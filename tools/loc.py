#!/usr/bin/env python3
"""Line count of the Scala sources under src/main.

A non-blank line whose first non-space characters are `//`, `/*` or `*`
is a comment line; every other non-blank line is code (oracle SQL text
inside Scala string literals counts as code).

Usage: python3 tools/loc.py
"""
import os

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "src", "main")


def main():
    code = comment = blank = 0
    for d, _, names in os.walk(ROOT):
        for n in names:
            if not n.endswith(".scala"):
                continue
            with open(os.path.join(d, n), encoding="utf-8") as f:
                for line in f:
                    s = line.strip()
                    if not s:
                        blank += 1
                    elif s.startswith(("//", "/*", "*")):
                        comment += 1
                    else:
                        code += 1
    print(f"src/main: total {code + comment + blank} code {code} "
          f"comment {comment} blank {blank}")


if __name__ == "__main__":
    main()
