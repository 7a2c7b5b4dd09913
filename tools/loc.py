#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of src/main and their delta against
a git ref.

    python3 tools/loc.py            # working tree vs HEAD~1
    python3 tools/loc.py <ref>      # working tree vs <ref>

A line counts when anything but whitespace and comments remains on it after
`//` line comments and `/* ... */` block comments (scaladoc included) are
removed. String literals ("...", and triple-quoted) are skipped while
scanning, so a `//` or `/*` inside a string never starts a comment. The
physical line count (every line, blank and comment lines included) is printed
beside it.
"""
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SRC = "src/main"
EXTS = (".scala", ".java")


def code_lines(text):
    """Non-blank, non-comment lines of one Scala/Java source."""
    n = 0
    depth = 0          # nesting depth of /* */ (Scala block comments nest)
    in_triple = False  # inside a """...""" literal
    for line in text.splitlines():
        has_code = False
        i = 0
        while i < len(line):
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
                continue
            if in_triple:
                has_code = True
                if line.startswith('"""', i):
                    in_triple = False
                    i += 3
                else:
                    i += 1
                continue
            c = line[i]
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth = 1
                i += 2
                continue
            if not c.isspace():
                has_code = True
            if line.startswith('"""', i):
                in_triple = True
                i += 3
            elif c == '"':
                i += 1
                while i < len(line) and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < len(line) and line[i + 2] == "'":
                i += 3  # a char literal such as '"' or '/'
            else:
                i += 1
        if has_code:
            n += 1
    return n


def git(*args):
    return subprocess.run(["git", "-C", str(ROOT), *args], check=True,
                          capture_output=True, text=True).stdout


def count_tree():
    code = phys = 0
    for p in sorted((ROOT / SRC).rglob("*")):
        if p.suffix in EXTS and p.is_file():
            text = p.read_text(encoding="utf-8")
            code += code_lines(text)
            phys += len(text.splitlines())
    return code, phys


def count_ref(ref):
    code = phys = 0
    for path in git("ls-tree", "-r", "--name-only", ref, "--", SRC).split():
        if path.endswith(EXTS):
            text = git("show", f"{ref}:{path}")
            code += code_lines(text)
            phys += len(text.splitlines())
    return code, phys


def main():
    ref = sys.argv[1] if len(sys.argv) > 1 else "HEAD~1"
    code, phys = count_tree()
    rcode, rphys = count_ref(ref)
    print(f"{SRC} code lines:     {code} (at {ref}: {rcode}, delta {code - rcode:+d})")
    print(f"{SRC} physical lines: {phys} (at {ref}: {rphys}, delta {phys - rphys:+d})")


if __name__ == "__main__":
    main()
