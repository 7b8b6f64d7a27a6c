"""Tests for tools/loc.py: python3 -m unittest discover -s tools -p 'test_*.py'"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import loc  # noqa: E402


class CountTest(unittest.TestCase):

    def test_blank_and_line_comment_lines_do_not_count(self):
        self.assertEqual(loc.count("val a = 1\n\n   \n// note\n  // more\nval b = 2\n"), 2)

    def test_trailing_line_comment_keeps_its_code(self):
        self.assertEqual(loc.count("val a = 1 // one\n"), 1)

    def test_block_comments_single_and_multi_line(self):
        src = "/** Doc\n  * more\n  */\nval a = 1 /* inline */\n/* x */ /* y */\n"
        self.assertEqual(loc.count(src), 1)

    def test_code_after_a_block_comment_end_counts(self):
        self.assertEqual(loc.count("/* a\n b */ val c = 1\n"), 1)

    def test_nested_block_comments(self):
        self.assertEqual(loc.count("/* outer /* inner */ still comment\n*/\nval a = 1\n"), 1)

    def test_comment_markers_inside_strings_are_code(self):
        src = 'val url = "http://host/x"\nval g = "/*"\nval h = "*/"\n'
        self.assertEqual(loc.count(src), 3)
        self.assertEqual(loc.strip_comments('val u = "a//b" // c'), 'val u = "a//b" ')

    def test_escaped_quote_does_not_end_a_string(self):
        self.assertEqual(loc.strip_comments('val s = "a\\"//b" // c'), 'val s = "a\\"//b" ')

    def test_triple_quoted_and_interpolated_strings(self):
        src = 'val q = """SELECT 1 -- //x\n  /* not a comment */\n"""\nval i = s"$a//b"\n'
        self.assertEqual(loc.count(src), 4)

    def test_char_literals(self):
        self.assertEqual(loc.strip_comments("val q = '\"' // c"), "val q = '\"' ")
        self.assertEqual(loc.strip_comments("val e = '\\'' // c"), "val e = '\\'' ")
        self.assertEqual(loc.count("val c = '/'\nval d = '*'\n"), 2)


if __name__ == "__main__":
    unittest.main()
