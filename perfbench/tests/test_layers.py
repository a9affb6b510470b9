"""Self-time arithmetic of the tracer's span trees.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import layers  # noqa: E402
from run import tail_value  # noqa: E402


def node(i, name, start, end, parent=0):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent}


class UnionLength(unittest.TestCase):
    def test_disjoint_overlapping_nested_and_clipped(self):
        self.assertEqual(layers.union_length([]), 0.0)
        self.assertAlmostEqual(layers.union_length([(0, 1), (2, 3)]), 2.0)
        self.assertAlmostEqual(layers.union_length([(0, 2), (1, 3)]), 3.0)
        self.assertAlmostEqual(layers.union_length([(0, 4), (1, 2)]), 4.0)
        self.assertAlmostEqual(layers.union_length([(0, 1), (1, 2)]), 2.0)
        self.assertAlmostEqual(layers.union_length([(-1, 2), (3, 9)], 0, 5), 4.0)


class SelfTimes(unittest.TestCase):
    def test_tree_with_overlapping_child_jobs(self):
        # op [0, 10] -> call [1, 9] -> jobs [2, 5] and [4, 7] overlap,
        # plus a job [8, 11] that runs past its parent's end
        nodes = [node(1, "op.x", 0, 10),
                 node(2, "PairGraph.d02", 1, 9, 1),
                 node("j1", "job", 2, 5, 2),
                 node("j2", "job", 4, 7, 2),
                 node("j3", "job", 8, 11, 2)]
        st = layers.self_times(nodes)
        self.assertAlmostEqual(st["op"], 2.0)          # 10 - call's 8
        self.assertAlmostEqual(st["PairGraph"], 2.0)   # 8 - |[2,7] u [8,9]| = 8 - 6
        self.assertAlmostEqual(st["job"], 3 + 3 + 3)   # leaves: own durations

    def test_self_times_partition_the_root(self):
        # when no siblings overlap, self times sum to the root's duration
        nodes = [node(1, "op.x", 0, 10), node(2, "A.call", 1, 8, 1),
                 node(3, "B.inner", 2, 6, 2), node("j", "job", 3, 4, 3),
                 node("k", "job", 4.5, 5.5, 3)]
        self.assertAlmostEqual(sum(layers.self_times(nodes).values()), 10.0)


class Tail(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 41))           # 40 samples: p75, value 30
        self.assertEqual(tail_value(xs), (30, 75))
        xs = list(range(1, 101))          # 100 samples: p90, value 90
        self.assertEqual(tail_value(xs), (90, 90))
        self.assertEqual(tail_value([3, 1, 2]), (2, 50))  # too few: the median


if __name__ == "__main__":
    unittest.main()
