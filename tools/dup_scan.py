"""Duplicated-region scan of one or more source files.

    python3 tools/dup_scan.py <path>... [window=8]

A path is a file or a directory; a directory stands for every `.scala`
file under it. Files are read in sorted path order. Each file's code lines
are read, as `tools/loc.py` classifies them: blank lines are skipped, and
so are comment lines (a line starting with `//` or `/*`, and every line
inside a `/* ... */` block).
Each line is compared with all whitespace removed. A window is `window`
consecutive code lines of one file. A window whose text already occurred
earlier — earlier in the same file, or in a file read before — is a pasted
window; pasted windows that start on consecutive code lines merge into one
region. So a block pasted once is one region, and a block that occurs k
times is k - 1 regions. A region is cross-file when the text it repeats
first occurred in another file. The script prints each region (its file,
first and last source line, and the file and first line of the text it
repeats), then, when it read more than one file, the cross-file total as
`cross-file regions: M`, and last the total as `regions: N`.

Self-test: `python3 -m unittest discover -s tools/tests`.
"""
import os
import sys

from loc import files, line_kinds


def code_lines(text):
    """(1-based source line, whitespace-free text) of every code line."""
    return [(no, "".join(s.split())) for no, kind, s in line_kinds(text)
            if kind == "code"]


def scan(named_texts, window=8):
    """Pasted regions of (name, text) pairs, scanned in the given order, as
    (name, first line, last line, name of the original, its first line)."""
    first = {}
    out = []
    for name, text in named_texts:
        lines = code_lines(text)
        keys = [tuple(t for _, t in lines[i:i + window])
                for i in range(len(lines) - window + 1)]
        for i, k in enumerate(keys):
            first.setdefault(k, (name, lines[i][0]))
        start = None
        for i, k in enumerate(keys + [None]):
            pasted = k is not None and first[k] != (name, lines[i][0])
            if pasted and start is None:
                start = i
            elif not pasted and start is not None:
                orig_name, orig_line = first[keys[start]]
                out.append((name, lines[start][0],
                            lines[i - 1 + window - 1][0], orig_name,
                            orig_line))
                start = None
    return out


def regions(text, window=8):
    """Pasted regions as (first line, last line, first line of the original)."""
    return [(a, b, o) for _, a, b, _, o in scan([("", text)], window)]


def main(argv):
    args = argv[1:]
    window = 8
    if len(args) > 1 and args[-1].isdigit() and not os.path.exists(args[-1]):
        window = int(args.pop())
    if not args:
        sys.exit("usage: dup_scan.py <path>... [window=8]")
    named = []
    for path in files(args):
        with open(path, encoding="utf-8") as f:
            named.append((path, f.read()))
    found = scan(named, window)
    for name, first, last, orig_name, orig in found:
        where = f"line {orig}" if orig_name == name else f"{orig_name}:{orig}"
        print(f"{name}:{first}-{last}  repeats {where}")
    if len(named) > 1:
        cross = sum(1 for r in found if r[3] != r[0])
        print(f"cross-file regions: {cross}")
    print(f"regions: {len(found)}")


if __name__ == "__main__":
    main(sys.argv)
