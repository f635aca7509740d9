#!/usr/bin/env python3
"""Attribution spec: planted work lands in the right query, phase, layer
and module.

    python3 perfbench/spec/attribution_spec.py

Compiles `PlantedWork.scala` against the benchmark build, runs it once
with tracing on, and checks the job spans through the same classifier
the traced benchmark uses (`metrics.classify`).
"""
import shutil
import sys
import unittest
from pathlib import Path

SPEC = Path(__file__).resolve().parent
sys.path.insert(0, str(SPEC.parent))
import metrics  # noqa: E402
import run  # noqa: E402

RAW = {}


def setUpModule():
    classes = run.build()
    spec = run.compile_scala([SPEC / "PlantedWork.scala"], run.build_dir() / "spec-classes",
                             [str(classes), f"{run.spark_jars()}/*"])
    work = run.fresh_dir("spec")
    try:
        RAW.update(run.jvm(classes, "graft.benchspec.PlantedWork", [], work, extra_cp=[spec]))
    finally:
        shutil.rmtree(work, ignore_errors=True)


class Attribution(unittest.TestCase):
    def jobs(self, query):
        execs = {e["qid"]: e for e in RAW["executions"]}
        out = []
        for j in RAW["jobs"]:
            if j["tags"].get("query") != query:
                continue
            e = execs[j["tags"]["qid"]]
            self.assertEqual(e["query"], query)
            self.assertTrue(e["start_ms"] <= j["start_ms"] <= e["end_ms"])
            out.append((metrics.classify(j), j))
        self.assertTrue(out, f"no jobs for {query}")
        return out

    def layers(self, query, phase):
        return {c[1] for c, _ in self.jobs(query) if c[0] == phase}

    def test_every_planted_query_ran(self):
        self.assertEqual([e["error"] for e in RAW["executions"]], [None] * 8)

    def test_pin(self):
        pins = [(c, j) for c, j in self.jobs("plant_pin") if c[1] == "pin"]
        self.assertEqual(len(pins), 1)
        self.assertEqual(pins[0][0], ("build", "pin", "util"))
        self.assertNotIn("checkpoint", self.layers("plant_pin", "build"))

    def test_pin_over_cap_is_demoted(self):
        jobs = self.jobs("plant_demote")
        self.assertIn("pin", {c[1] for c, _ in jobs})
        demoted = [c for c, j in jobs if c[1] == "checkpoint" and metrics.DEMOTE_FRAME in j["frames"]]
        self.assertEqual(demoted, [("build", "checkpoint", "util")])

    def test_local_checkpoint(self):
        self.assertEqual(self.layers("plant_checkpoint", "build"), {"checkpoint"})
        self.assertEqual({c[2] for c, _ in self.jobs("plant_checkpoint") if c[0] == "build"},
                         {"benchspec"})

    def test_probe_and_store(self):
        self.assertEqual(self.layers("plant_probe", "build"), {"probe"})
        self.assertIn("store", self.layers("plant_store", "build"))

    def test_aqe_shuffle_in_exec_phase(self):
        jobs = self.jobs("plant_aqe")
        self.assertEqual({c[:2] for c, _ in jobs}, {("exec", "tail")})
        # the shuffle-stage job and the result job
        self.assertGreaterEqual(len(jobs), 2)
        self.assertGreater(sum(j["shuffle_write"] for _, j in jobs), 0)

    def test_concurrent_queries_keep_their_tags(self):
        a = {e["query"]: e for e in RAW["executions"]}
        x, y = a["plant_conc_a"], a["plant_conc_b"]
        self.assertLess(max(x["start_ms"], y["start_ms"]), min(x["end_ms"], y["end_ms"]))
        for q in ("plant_conc_a", "plant_conc_b"):
            self.assertEqual(self.layers(q, "build"), {"checkpoint"})
            self.assertEqual(self.layers(q, "exec"), {"tail"})

    def test_nothing_unattributed(self):
        per_query = {}
        for j in RAW["jobs"]:
            self.assertIsNotNone(metrics.classify(j)[1], j)
            per_query[j["tags"]["query"]] = per_query.get(j["tags"]["query"], 0) + 1
        self.assertEqual(len(per_query), 8)


if __name__ == "__main__":
    unittest.main()
