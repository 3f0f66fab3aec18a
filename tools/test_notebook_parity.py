#!/usr/bin/env python3
"""Unit tests for the design extraction of tools/notebook_parity.py.

    python3 -m unittest tools/test_notebook_parity.py

They need no reference checkout: the zips are synthetic or absent.
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest
import zipfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import notebook_parity  # noqa: E402

S1_DESIGN = "Label,Group,Timepoint,Replicate\nA1,Control,0,1\nB1,Treat,5,1\n"
S2_DESIGN = "Label,Group,Replicate\nRatio M/L normalized 1,1day,1\nRatio H/L normalized 1,3days,1\n"


class ExtractDesignsTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name
        self.saved = (notebook_parity.ZIP1, notebook_parity.ZIP2)
        notebook_parity.ZIP1 = os.path.join(self.dir, "absent", "File S-1.zip")
        notebook_parity.ZIP2 = os.path.join(self.dir, "absent", "File S-2.zip")

    def tearDown(self):
        notebook_parity.ZIP1, notebook_parity.ZIP2 = self.saved
        self.tmp.cleanup()

    def out(self, name):
        return os.path.join(self.dir, "out", name)

    def write(self, path, text):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)

    def read(self, path):
        with open(path) as f:
            return f.read()

    def test_stand_in_designs_replace_absent_zips(self):
        self.write(self.out("s1_design.csv"), S1_DESIGN)
        self.write(self.out("s2_design.csv"), S2_DESIGN)
        with contextlib.redirect_stdout(io.StringIO()):
            notebook_parity.gen(self.out(""))
        self.assertEqual(self.read(self.out("s1_design.csv")), S1_DESIGN)
        self.assertEqual(self.read(self.out("s2_design.csv")), S2_DESIGN)
        header = self.read(self.out("s1_fixture.txt")).splitlines()[0].split("\t")
        self.assertIn("Intensity B1___3", header)
        header2 = self.read(self.out("s2_fixture.txt")).splitlines()[0].split("\t")
        self.assertIn("Ratio H/L normalized 1", header2)

    def test_absent_zip_without_stand_in_exits_2_naming_both_paths(self):
        self.write(self.out("s1_design.csv"), S1_DESIGN)
        err = io.StringIO()
        with contextlib.redirect_stderr(err), self.assertRaises(SystemExit) as cm:
            notebook_parity.extract_designs(self.out(""))
        self.assertEqual(cm.exception.code, 2)
        self.assertIn(notebook_parity.ZIP2, err.getvalue())
        self.assertIn(self.out("s2_design.csv"), err.getvalue())
        self.assertNotIn(notebook_parity.ZIP1, err.getvalue())

    def test_present_zip_is_extracted_over_a_stand_in(self):
        notebook_parity.ZIP1 = os.path.join(self.dir, "File S-1.zip")
        with zipfile.ZipFile(notebook_parity.ZIP1, "w") as zf:
            zf.writestr("File S-1/design.csv", S1_DESIGN)
        self.write(self.out("s1_design.csv"), "stale\n")
        self.write(self.out("s2_design.csv"), S2_DESIGN)
        notebook_parity.extract_designs(self.out(""))
        self.assertEqual(self.read(self.out("s1_design.csv")), S1_DESIGN)
        self.assertEqual(self.read(self.out("s2_design.csv")), S2_DESIGN)


if __name__ == "__main__":
    unittest.main()
