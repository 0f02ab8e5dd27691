#!/usr/bin/env python3
"""Count Scala code lines: non-blank lines that are not only comment.

    python3 tools/loc.py <dir-or-file>...

Prints one "<lines>  <path>" row per .scala file under the given paths,
then the total. A line counts when anything but whitespace is left
after removing `//` line comments and `/* ... */` block comments
(Scaladoc included). Comment markers inside string literals are
honoured as strings, so `"http://x"` does not end a line early.
"""
import os
import sys


def code_lines(text):
    n = 0
    in_block = 0          # nesting depth: Scala block comments nest
    in_str = None         # '"' or '"""' while inside a string literal
    for line in text.splitlines():
        code = in_str is not None and bool(line.strip())
        i, k = 0, len(line)
        while i < k:
            if in_block:
                if line.startswith("/*", i):
                    in_block += 1
                    i += 2
                elif line.startswith("*/", i):
                    in_block -= 1
                    i += 2
                else:
                    i += 1
                continue
            if in_str:
                code = True
                if in_str == '"""' and line.startswith('"""', i):
                    in_str, i = None, i + 3
                elif in_str == '"' and line[i] == "\\":
                    i += 2
                elif in_str == '"' and line[i] == '"':
                    in_str, i = None, i + 1
                else:
                    i += 1
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                in_block, i = 1, i + 2
                continue
            c = line[i]
            if line.startswith('"""', i):
                in_str, code, i = '"""', True, i + 3
                continue
            if c == '"':
                in_str, code, i = '"', True, i + 1
                continue
            if c == "'" and i + 2 < k and line[i + 2] == "'":
                code, i = True, i + 3      # a char literal such as '"'
                continue
            if c == "'" and line.startswith("\\", i + 1) and \
                    i + 3 < k and line[i + 3] == "'":
                code, i = True, i + 4      # an escaped one such as '\"'
                continue
            if not c.isspace():
                code = True
            i += 1
        # a single-quoted string cannot span lines; a triple-quoted one can
        if in_str == '"':
            in_str = None
        n += code
    return n


def scala_files(path):
    if os.path.isfile(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(root, f)


def main(argv):
    if not argv:
        sys.exit(__doc__.strip())
    total = 0
    for p in argv:
        for f in scala_files(p):
            with open(f, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
