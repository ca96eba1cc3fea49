"""Self-tests of the benchmark. From the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The manifest tests build the engine (as run.py does) and run the JVM
harness on tiny corpora, so they take about a minute each.
"""
import contextlib
import filecmp
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "selftest")

# Every feature of the full shapes (id and slot collisions, a salvaged
# and a skipped file, all adapters, patches with slot evictions) at a
# size that converts in seconds.
TINY = {
    "ingest_large_docs": dict(gen.SHAPES["ingest_large_docs"], shards=1,
                              files=5, branching=[2, 1, 3, 2], type_group=3,
                              truncate=(2,), skip=(3,)),
    "graph_queries": dict(gen.SHAPES["graph_queries"], files=3,
                          branching=[2, 1, 3, 2], patches=2),
}


@contextlib.contextmanager
def tiny_shapes():
    saved = dict(gen.SHAPES)
    gen.SHAPES.update(TINY)
    try:
        yield
    finally:
        gen.SHAPES.clear()
        gen.SHAPES.update(saved)


def fresh(name):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files,
                                           shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d))
        for d in cmp.common_dirs)


def strip_dirs(x):
    if isinstance(x, dict):
        return {k: strip_dirs(v) for k, v in x.items()
                if k not in ("dir", "base", "patches", "warm")}
    if isinstance(x, list):
        return [strip_dirs(v) for v in x]
    return x


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes_and_manifest(self):
        a, b = fresh("ingest-a"), fresh("ingest-b")
        ma = gen.ingest_corpus("ingest_large_docs", 7, a)
        mb = gen.ingest_corpus("ingest_large_docs", 7, b)
        self.assertTrue(same_tree(a, b))
        self.assertEqual(strip_dirs(ma), strip_dirs(mb))
        a, b = fresh("graph-a"), fresh("graph-b")
        ma, mb = gen.graph_corpus(7, a), gen.graph_corpus(7, b)
        self.assertTrue(same_tree(a, b))
        self.assertEqual(strip_dirs(ma), strip_dirs(mb))

    def test_other_seed_other_bytes_same_shape(self):
        a, b = fresh("seed-a"), fresh("seed-b")
        ma = gen.ingest_corpus("ingest_large_docs", 1, a)
        mb = gen.ingest_corpus("ingest_large_docs", 2, b)
        self.assertFalse(same_tree(a, b))
        # the shape, and so the work, does not depend on the seed
        for x, y in zip(ma["shards"], mb["shards"]):
            self.assertEqual((x["documents"], x["nodes"], x["properties"]),
                             (y["documents"], y["nodes"], y["properties"]))


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(run.percentile_tail(list(range(1, 101))),
                         (90, 90.0, 10))
        self.assertEqual(run.percentile_tail(list(range(20, 0, -1))),
                         (10, 50.0, 10))
        self.assertEqual(run.percentile_tail(list(range(1, 41))),
                         (30, 75.0, 10))

    def test_too_few_samples_reports_the_maximum(self):
        self.assertEqual(run.percentile_tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        self.assertEqual(run.percentile_tail(list(range(19))), (18, 100.0, 0))


class ManifestMatchesConversion(unittest.TestCase):
    """The manifest's expected counts equal what the engine writes."""

    @classmethod
    def setUpClass(cls):
        build_dir = os.path.join(ROOT, ".bench_build")
        os.makedirs(build_dir, exist_ok=True)
        cls.build_dir = build_dir
        cls.classes = run.build(ROOT, build_dir)

    def harness(self, workload, part, work, max_ops):
        cfg = dict(part, workload=workload, seconds=1e9, trace=False,
                   max_ops=max_ops,
                   work=os.path.join(work, "out"),
                   result=os.path.join(work, "result.json"))
        os.makedirs(cfg["work"])
        return run.run_harness(self.classes, self.build_dir, cfg, work), cfg

    def test_ingest(self):
        work = fresh("manifest-ingest")
        with tiny_shapes():
            part, manifest = run.prepare("ingest_large_docs", 3, work)
        rec, _ = self.harness("ingest_large_docs", part, work, 2)
        self.assertEqual(run.check_ops("ingest_large_docs", rec, manifest), 0,
                         [o.get("mismatch") for o in rec["ops"]])
        shard = manifest["shards"][0]
        self.assertEqual((shard["skipped"], shard["salvaged"]), (1, 1))
        self.assertTrue(all(n > 0 for n in shard["edges"].values()))

    def test_graph_versions_and_replay(self):
        work = fresh("manifest-graph")
        with tiny_shapes():
            part, manifest = run.prepare("graph_queries", 3, work)
        first = {}
        for op in part["ops"]:
            first.setdefault(op[0], op)
        reads = [first[name] for name in gen.POINT_OPS + gen.ANALYTIC_OPS]
        # every query once on the base graph, then again after each patch
        ops = []
        for _ in range(TINY["graph_queries"]["patches"] + 1):
            ops.extend(reads + [["upsert"]])
        part["ops"] = ops
        rec, cfg = self.harness("graph_queries", part, work, len(ops) - 1)
        manifest["work"] = cfg["work"]
        manifest["base_out"] = os.path.join(cfg["work"], "v0")
        self.assertEqual(run.check_ops("graph_queries", rec, manifest), 0,
                         [o.get("mismatch") for o in rec["ops"]
                          if not o["correct"]])
        self.assertEqual(sum(o["op"] == "upsert" for o in rec["ops"]),
                         TINY["graph_queries"]["patches"])


if __name__ == "__main__":
    unittest.main()
