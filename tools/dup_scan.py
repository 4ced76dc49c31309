"""Duplicated-region scan of one source file.

    python3 tools/dup_scan.py <file> [window=8]

Reads the file's code lines: blank lines are skipped, and so are comment
lines (a line starting with `//` or `/*`, and every line inside a
`/* ... */` block). Each line is compared with all whitespace removed.
A window is `window` consecutive code lines. A window whose text already
occurred earlier in the file is a pasted window; pasted windows that start
on consecutive code lines merge into one region. So a block pasted once is
one region, and a block that occurs k times is k - 1 regions. The script
prints each region (its first and last source line, and the first line of
the text it repeats) and then the total as `regions: N`.

Self-test: `python3 -m unittest discover -s tools/tests`.
"""
import sys


def code_lines(text):
    """(1-based source line, whitespace-free text) of every code line."""
    out = []
    in_block = False
    for no, raw in enumerate(text.splitlines(), 1):
        s = raw.strip()
        if in_block:
            if "*/" in s:
                in_block = False
            continue
        if not s or s.startswith("//"):
            continue
        if s.startswith("/*"):
            in_block = "*/" not in s[2:]
            continue
        out.append((no, "".join(s.split())))
    return out


def regions(text, window=8):
    """Pasted regions as (first line, last line, first line of the original)."""
    lines = code_lines(text)
    keys = [tuple(t for _, t in lines[i:i + window])
            for i in range(len(lines) - window + 1)]
    first = {}
    for i, k in enumerate(keys):
        first.setdefault(k, i)
    out = []
    start = None
    for i, k in enumerate(keys + [None]):
        pasted = k is not None and first[k] != i
        if pasted and start is None:
            start = i
        elif not pasted and start is not None:
            out.append((lines[start][0], lines[i - 1 + window - 1][0],
                        lines[first[keys[start]]][0]))
            start = None
    return out


def main(argv):
    if not 2 <= len(argv) <= 3:
        sys.exit("usage: dup_scan.py <file> [window=8]")
    window = int(argv[2]) if len(argv) == 3 else 8
    with open(argv[1], encoding="utf-8") as f:
        found = regions(f.read(), window)
    for first, last, orig in found:
        print(f"{argv[1]}:{first}-{last}  repeats line {orig}")
    print(f"regions: {len(found)}")


if __name__ == "__main__":
    main(sys.argv)
