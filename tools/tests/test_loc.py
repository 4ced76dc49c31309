"""Self-tests of the line counter. Run with

    python3 -m unittest discover -s tools/tests
"""
import os
import subprocess
import sys
import tempfile
import unittest

TOOLS = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, TOOLS)

import loc  # noqa: E402


def kinds(text):
    return [k for _, k, _ in loc.line_kinds(text)]


class Kinds(unittest.TestCase):
    def test_scaladoc_block_is_comment_through_its_closing_line(self):
        text = "\n".join([
            "  /** Sum of the two.",
            "    *",
            "    * @return a + b",
            "    */",
            "  def add(a: Int, b: Int): Int = a + b",
        ])
        self.assertEqual(kinds(text), ["comment"] * 4 + ["code"])

    def test_one_line_block_comments_end_on_their_line(self):
        text = "\n".join([
            "/** One-line scaladoc. */",
            "val a = 1",
            "  /* plain block */",
            "val b = 2",
        ])
        self.assertEqual(kinds(text), ["comment", "code", "comment", "code"])

    def test_line_comments_and_trailing_comments(self):
        text = "\n".join([
            "// a whole-line comment",
            "    // indented",
            "val c = 3 // a trailing comment keeps the line code",
            "val d = \"//\" + \"/*\"",
        ])
        self.assertEqual(kinds(text), ["comment", "comment", "code", "code"])

    def test_blank_lines_count_as_neither(self):
        text = "val a = 1\n\n   \n\t\n/* x */\nval b = 2\n"
        self.assertEqual(loc.counts(text), (2, 1))
        self.assertEqual(kinds(text).count("blank"), 3)

    def test_blank_line_inside_a_block_is_comment(self):
        text = "/*\n\n*/\nval a = 1"
        self.assertEqual(loc.counts(text), (1, 3))


class Cli(unittest.TestCase):
    def test_prints_per_file_counts_and_a_total(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "A.scala"), "w") as f:
                f.write("/** doc */\nobject A {\n  // x\n  val a = 1\n}\n")
            with open(os.path.join(d, "B.scala"), "w") as f:
                f.write("object B\n")
            with open(os.path.join(d, "notes.txt"), "w") as f:
                f.write("not scala\n")
            out = subprocess.run(
                [sys.executable, os.path.join(TOOLS, "loc.py"), d],
                capture_output=True, text=True, check=True).stdout
        self.assertEqual(out.splitlines(), [
            f"3 2 {os.path.join(d, 'A.scala')}",
            f"1 0 {os.path.join(d, 'B.scala')}",
            "4 2 total",
        ])


if __name__ == "__main__":
    unittest.main()
