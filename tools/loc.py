"""Code and comment line counts of Scala source files.

    python3 tools/loc.py <path>...

A path is a file or a directory; a directory stands for every `.scala`
file under it. Every line of a file is one of three kinds:

- blank: only whitespace;
- comment: a line starting with `//` or `/*`, and every line inside a
  `/* ... */` block (scaladoc included), its closing line too;
- code: every other line, also one that ends in a trailing comment.

The script prints `<code> <comment> <path>` per file, in sorted path
order, then `<code> <comment> total`.

Self-test: `python3 -m unittest discover -s tools/tests`.
"""
import os
import sys


def files(paths):
    """The files the paths name, directories expanded to their `.scala`
    files, in sorted order."""
    out = []
    for p in paths:
        if os.path.isdir(p):
            out += [os.path.join(d, f) for d, _, fs in os.walk(p)
                    for f in fs if f.endswith(".scala")]
        else:
            out.append(p)
    return sorted(out)


def line_kinds(text):
    """(1-based line, kind, stripped text) of every line, kind being
    "blank", "comment" or "code"."""
    out = []
    in_block = False
    for no, raw in enumerate(text.splitlines(), 1):
        s = raw.strip()
        if in_block:
            in_block = "*/" not in s
            kind = "comment"
        elif not s:
            kind = "blank"
        elif s.startswith("//"):
            kind = "comment"
        elif s.startswith("/*"):
            in_block = "*/" not in s[2:]
            kind = "comment"
        else:
            kind = "code"
        out.append((no, kind, s))
    return out


def counts(text):
    """(code lines, comment lines) of a file's text."""
    kinds = [k for _, k, _ in line_kinds(text)]
    return kinds.count("code"), kinds.count("comment")


def main(argv):
    if len(argv) < 2:
        sys.exit("usage: loc.py <path>...")
    total = [0, 0]
    for path in files(argv[1:]):
        with open(path, encoding="utf-8") as f:
            code, comment = counts(f.read())
        total[0] += code
        total[1] += comment
        print(f"{code} {comment} {path}")
    print(f"{total[0]} {total[1]} total")


if __name__ == "__main__":
    main(sys.argv)
