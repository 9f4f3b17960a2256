"""Every metric name the benchmark prints is declared in
BENCHMARK.json, and every declared metric is produced."""
import json
import os
import re
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import metrics  # noqa: E402
from test_metrics import record  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def scala_layer_keys():
    """The per-pass layer totals the Scala harness records (every
    `add("<layer>.<metric>", ...)` or `layers("<layer>.<metric>")`)."""
    keys = set()
    src = os.path.join(BENCH, "src", "main", "scala", "perfbench")
    for name in os.listdir(src):
        with open(os.path.join(src, name)) as f:
            keys |= set(re.findall(
                r'(?:add|layers)\("((?:sources|plans|operators|spark|trace)'
                r'\.[a-z_0-9]+)"',
                f.read()))
    return keys


class SpecTest(unittest.TestCase):
    def test_end_to_end_names_match(self):
        m, _ = metrics.end_to_end(record([1.0, 2.0, 3.0],
                                         {"a": [1.0, 1.0, 2.0]}))
        self.assertEqual(set(m), {x["name"] for x in SPEC["end_to_end"]})

    def test_per_layer_names_match(self):
        rec = record([1.0, 2.0, 1.0, 2.0], {"a": [1.0] * 4}, traced={1, 3})
        keys = scala_layer_keys()
        for p in rec["passes"]:
            p["layers"] = dict({k: 1.0 for k in keys}, **p["layers"])
        rec["probes"] = {f"functions.{k}_ns_row": 1.0 for k in
                         ("shingles", "minhash", "simhash", "winnow", "nfc")}
        rec["probes"]["sources.probe_ns_row"] = 1.0
        self.assertEqual(set(metrics.per_layer(rec)),
                         {x["name"] for x in SPEC["per_layer"]})

    def test_setup_metric_is_declared(self):
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")
        self.assertEqual(setup[0]["bound"],
                         max(m["bound"] for m in SPEC["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
