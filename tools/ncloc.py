#!/usr/bin/env python3
"""Count non-comment lines of code.

Usage: python3 tools/ncloc.py <path>...

Each path is a source file or a directory (searched recursively for
*.scala and *.java files). A line counts when something other than
whitespace is left after removing `//` line comments and `/* ... */`
block comments (scaladoc included). Comment markers inside string
literals are not treated as comments. Prints one `<count>  <file>` line
per file, then `<total>  total`.
"""
import os
import sys

EXTENSIONS = (".scala", ".java")


def code_lines(text):
    """Number of lines that still hold code once comments are removed."""
    count = 0
    in_block = False
    quote = None
    for line in text.splitlines():
        code = []
        i, n = 0, len(line)
        while i < n:
            two = line[i:i + 2]
            if in_block:
                if two == "*/":
                    in_block = False
                    i += 2
                else:
                    i += 1
                continue
            c = line[i]
            if quote:
                code.append(c)
                if c == "\\" and quote == '"':
                    code.append(line[i + 1:i + 2])
                    i += 2
                    continue
                if line.startswith(quote, i):
                    code.append(quote[1:])
                    i += len(quote)
                    quote = None
                    continue
                i += 1
                continue
            if two == "//":
                break
            if two == "/*":
                in_block = True
                i += 2
                continue
            if line.startswith('"""', i):
                quote = '"""'
                code.append(quote)
                i += 3
                continue
            if c == "'" and line[i + 1:i + 2] == "\\" and line[i + 3:i + 4] == "'":
                code.append(line[i:i + 4])
                i += 4
                continue
            if c == "'" and line[i + 2:i + 3] == "'":
                code.append(line[i:i + 3])
                i += 3
                continue
            if c == '"':
                quote = '"'
            code.append(c)
            i += 1
        if quote == '"':
            quote = None
        if "".join(code).strip():
            count += 1
    return count


def source_files(path):
    if os.path.isfile(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(EXTENSIONS):
                yield os.path.join(root, name)


def main(paths):
    if not paths:
        sys.exit(__doc__.strip())
    total = 0
    for path in paths:
        for f in source_files(path):
            with open(f, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
