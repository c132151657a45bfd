"""Tests for tools/fork_census.py grouping.

Run with: python3 -m unittest discover -s tools/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
sys.dont_write_bytecode = True

import fork_census  # noqa: E402


def frame(cls, method, line):
    return {"method": {"type": {"name": cls}, "name": method}, "lineNumber": line}


def start(command, thread, frames):
    return {"type": "jdk.ProcessStart",
            "values": {"command": command, "eventThread": {"javaName": thread},
                       "stackTrace": {"frames": frames}}}


class CensusTest(unittest.TestCase):
    def test_groups_by_program_thread_and_first_graft_frame(self):
        plan = [frame("java/lang/ProcessBuilder", "start", 1124),
                frame("org/apache/hadoop/util/Shell", "runCommand", 1000),
                frame("graft/sources/BvGraphScan", "planInputPartitions", 391),
                frame("graft/perfbench/Main$", "main", 133)]
        write = [frame("graft/sources/BvShardWriter", "write", 320)]
        counts = fork_census.census([
            start("ls -ld /a/part-00000.graph", "main", plan),
            start("/bin/ls -ld /a/part-00001.graph", "main", plan),
            start("chmod 644 /a/x", "Executor task launch worker for task 3.0", write),
            start("chmod 644 /a/y", "Executor task launch worker for task 17.0", write),
            start("getconf CLK_TCK", "executor-heartbeater", []),
            start("readlink /c/offsets/0", "stream execution thread for q "
                  "[id = 0d3c9a4e-1f2b-4c5d-8e9f-a0b1c2d3e4f5]", []),
            start("readlink /c/offsets/1", "stream execution thread for q "
                  "[id = 7e6d5c4b-3a29-4817-9605-f4e3d2c1b0a9]", []),
        ])
        self.assertEqual(counts, {
            ("ls", "main", "graft.sources.BvGraphScan.planInputPartitions:391"): 2,
            ("chmod", "Executor task launch worker for task N.N",
             "graft.sources.BvShardWriter.write:320"): 2,
            ("getconf", "executor-heartbeater", "-"): 1,
            ("readlink", "stream execution thread for q [id = UUID]", "-"): 2,
        })


if __name__ == "__main__":
    unittest.main()
