"""Self-tests of the duplicated-region scan. Run with

    python3 -m unittest discover -s tools/tests
"""
import os
import subprocess
import sys
import tempfile
import unittest

TOOLS = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, TOOLS)

import dup_scan  # noqa: E402


def unique(n, tag):
    return [f"val {tag}{i} = {i} + {tag!r}.length" for i in range(n)]


BLOCK = [f"  step{i}(x, {i})" for i in range(9)]


class Regions(unittest.TestCase):
    def test_one_pasted_nine_line_block_is_one_region(self):
        text = "\n".join(unique(5, "a") + BLOCK + unique(5, "b") + BLOCK
                         + unique(5, "c"))
        # the paste starts on line 20 and repeats line 6; its two windows
        # merge into one region spanning the block's nine lines
        self.assertEqual(dup_scan.regions(text), [(20, 28, 6)])

    def test_cli_counts_the_regions(self):
        text = "\n".join(unique(5, "a") + BLOCK + unique(3, "b") + BLOCK)
        with tempfile.NamedTemporaryFile("w", suffix=".scala",
                                         delete=False) as f:
            f.write(text)
        try:
            out = subprocess.run(
                [sys.executable, os.path.join(TOOLS, "dup_scan.py"), f.name],
                capture_output=True, text=True, check=True).stdout
        finally:
            os.unlink(f.name)
        self.assertTrue(out.endswith("regions: 1\n"), out)

    def test_each_further_paste_is_a_region(self):
        text = "\n".join(unique(3, "a") + BLOCK + unique(3, "b") + BLOCK
                         + unique(3, "c") + BLOCK)
        self.assertEqual(len(dup_scan.regions(text)), 2)

    def test_unique_file_has_no_region(self):
        self.assertEqual(dup_scan.regions("\n".join(unique(40, "a"))), [])

    def test_blank_comment_and_whitespace_differences_are_ignored(self):
        a = BLOCK[:4] + ["", "// a note", "/* a", " * longer note */"] + BLOCK[4:]
        b = ["    " + l.replace(", ", ",") for l in BLOCK]
        text = "\n".join(unique(3, "a") + a + unique(3, "b") + b)
        self.assertEqual(len(dup_scan.regions(text)), 1)

    def test_short_paste_is_below_the_window(self):
        text = "\n".join(unique(5, "a") + BLOCK[:7] + unique(5, "b")
                         + BLOCK[:7])
        self.assertEqual(dup_scan.regions(text), [])
        self.assertEqual(len(dup_scan.regions(text, window=7)), 1)


    def test_block_shared_by_two_files_is_one_cross_file_region(self):
        a = "\n".join(unique(5, "a") + BLOCK + unique(5, "b"))
        b = "\n".join(unique(3, "c") + BLOCK + unique(3, "d"))
        self.assertEqual(dup_scan.scan([("A.scala", a), ("B.scala", b)]),
                         [("B.scala", 4, 12, "A.scala", 6)])
        with tempfile.TemporaryDirectory() as d:
            for name, text in (("A.scala", a), ("B.scala", b)):
                with open(os.path.join(d, name), "w") as f:
                    f.write(text)
            out = subprocess.run(
                [sys.executable, os.path.join(TOOLS, "dup_scan.py"), d],
                capture_output=True, text=True, check=True).stdout
        self.assertTrue(out.endswith("cross-file regions: 1\nregions: 1\n"),
                        out)


if __name__ == "__main__":
    unittest.main()
