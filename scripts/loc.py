#!/usr/bin/env python3
"""Print the main-source code-line count: non-blank lines of the Scala
files under src/main, not counting `//` comment lines or the lines of a
`/* */` comment (code after a closing `*/` counts). The rule is per
line: a line that starts a comment is a comment line.

    python3 scripts/loc.py [root]      # root defaults to the repo root
"""
import os
import sys


def code_lines(lines):
    count = 0
    in_block = False
    for line in lines:
        s = line.strip()
        if in_block or s.startswith("/*"):
            body = s if in_block else s[2:]
            in_block = "*/" not in body
            count += not in_block and bool(body.split("*/", 1)[1].strip())
        elif s and not s.startswith("//"):
            count += 1
    return count


def main(argv):
    root = argv[1] if len(argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    total = 0
    for dirpath, _, files in os.walk(os.path.join(root, "src", "main")):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                    total += code_lines(fh)
    print(total)


if __name__ == "__main__":
    main(sys.argv)
