#!/usr/bin/env python3
"""Line counts of the Scala sources: code lines, comment share, history refs.

Usage: python3 scripts/loc.py [srcDir]    (default: src/main of this repo)

For every *.scala file under srcDir, and in total, prints:

- code: non-blank lines that carry code once comments are removed;
- comment: non-blank lines that carry only comment text;
- refs: matches of HISTORY below anywhere in the file (code or comment),
  counted as `grep -oE` counts them, several per line allowed.

The comment share is comment / (code + comment). Comments are `//` to the
end of the line and `/* ... */` blocks, which may span lines and nest as in
Scala. Text inside string literals ("...", \"\"\"...\"\"\") and character
literals is code, so a `//` or `/*` there starts no comment. Standard
library only.
"""
import re
import sys
from pathlib import Path

HISTORY = re.compile(r"\br[0-9]{1,2}\b|verdict|ADVICE|review fix")
CHAR = re.compile(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'])'")


def classify(text):
    """(code lines, comment-only lines) of one Scala source text."""
    code = comment = 0
    depth = 0            # nesting depth of /* */ comments
    in_str = None        # None, '"' or '"""' while inside a string literal
    for line in text.splitlines():
        has_code = False
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif in_str == '"""':
                has_code = True
                if line.startswith('"""', i):
                    # a run of quotes closes on its last three
                    j = i
                    while j < n and line[j] == '"':
                        j += 1
                    in_str = None
                    i = j
                else:
                    i += 1
            elif in_str == '"':
                has_code = True
                if c == "\\":
                    i += 2
                elif c == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth += 1
                i += 2
            elif line.startswith('"""', i):
                in_str = '"""'
                has_code = True
                i += 3
            elif c == '"':
                in_str = '"'
                has_code = True
                i += 1
            elif c == "'" and CHAR.match(line, i):
                # a character literal; a lone ' is a symbol or a type tick
                has_code = True
                i = CHAR.match(line, i).end()
            else:
                if not c.isspace():
                    has_code = True
                i += 1
        if in_str == '"':      # a single-line string cannot span lines
            in_str = None
        # outside comments and strings every non-space character is code, so
        # a non-blank line without code holds only comment text
        if has_code:
            code += 1
        elif line.strip():
            comment += 1
    return code, comment


def main(argv):
    root = Path(argv[1]) if len(argv) > 1 else Path(__file__).resolve().parent.parent / "src" / "main"
    if not root.is_dir():
        sys.exit(f"loc.py: {root} is not a directory")
    rows = []
    for p in sorted(root.rglob("*.scala")):
        text = p.read_text(encoding="utf-8")
        code, comment = classify(text)
        rows.append((str(p.relative_to(root)), code, comment, len(HISTORY.findall(text))))
    width = max([len(r[0]) for r in rows] + [5])
    print(f"{'file':<{width}} {'code':>7} {'comment':>7} {'refs':>5}")
    for name, code, comment, refs in rows:
        print(f"{name:<{width}} {code:>7} {comment:>7} {refs:>5}")
    code = sum(r[1] for r in rows)
    comment = sum(r[2] for r in rows)
    refs = sum(r[3] for r in rows)
    print(f"{'total':<{width}} {code:>7} {comment:>7} {refs:>5}")
    share = comment / (code + comment) if code + comment else 0.0
    print(f"files {len(rows)}, code lines {code}, comment lines {comment}, "
          f"comment share {share:.1%}, history refs {refs}")


if __name__ == "__main__":
    main(sys.argv)
