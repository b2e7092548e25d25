"""Self-test of the benchmark's own logic (no Spark needed).

    python3 perfbench/selftest.py

Checks that one seed yields byte-identical STAC trees, request schedules
and query orders, that the tampered-asset schedule is what the ingest
checks expect, and the span self-time and inclusive-count arithmetic on
synthetic spans.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if CHECKOUT not in sys.path:
    sys.path.insert(0, CHECKOUT)

from perfbench import gen  # noqa: E402
from perfbench.trace import Span, inclusive, self_times  # noqa: E402


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(root)):
        h.update(name.encode())
        with open(os.path.join(root, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scratch() -> tempfile.TemporaryDirectory:
    base = os.path.join(CHECKOUT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=base)


def test_same_seed_same_trees():
    with _scratch() as d:
        digests = [
            _tree_digest(gen.write_stac_tree(7, v, os.path.join(d, f"{tag}{v}")).root_url.rsplit("/", 1)[0])
            for tag in ("a", "b")
            for v in (0, 1)
        ]
        other = gen.write_stac_tree(8, 0, os.path.join(d, "c0"))
        assert digests[0] == digests[2] and digests[1] == digests[3]
        assert digests[0] != digests[1]
        assert _tree_digest(os.path.dirname(other.root_url)) != digests[0]


def test_tamper_schedule():
    for seed in range(8):
        flags = [gen.is_tampered(seed, v) for v in range(16)]
        assert sum(flags) == 16 // gen.TAMPER_EVERY
        assert flags.index(True) == seed % gen.TAMPER_EVERY
    with _scratch() as d:
        tree = gen.write_stac_tree(0, 0, d)
        assert tree.tampered and tree.tampered_path in tree.data
        bad = []
        for path, digest in tree.data.items():
            with open(path, "rb") as fh:
                if gen.multihash(fh.read()) != digest:
                    bad.append(path)
        assert bad == [tree.tampered_path]


def test_same_seed_same_schedule():
    a = gen.request_schedule(3, 1, 2000)
    assert a == gen.request_schedule(3, 1, 2000)
    assert a != gen.request_schedule(3, 2, 2000)
    assert a != gen.request_schedule(4, 1, 2000)
    writes = [r.kind for r in a if r.kind in gen.WRITE_KINDS]
    assert abs(len(writes) / len(a) - 0.2) < 0.01
    assert writes[0] == "create"  # an update always has a dataset to rename


def test_rotation():
    names = [f"q{i}" for i in range(5)]
    assert gen.rotate(names, 7) == gen.rotate(names, 7) == names[2:] + names[:2]
    assert sorted(gen.rotate(names, 3)) == names


def test_self_time_arithmetic():
    spans = [
        Span(1, "root", None, "t", 0.0, 10.0, jobs=1, tasks=4),
        Span(2, "a", 1, "t", 1.0, 3.0, jobs=2, tasks=2),
        Span(3, "b", 1, "t", 2.0, 5.0, jobs=0, tasks=0),  # overlaps a
        Span(4, "c", 1, "t", 8.0, 12.0, jobs=1, tasks=1),  # runs past root
        Span(5, "d", 2, "t", 1.5, 2.5, jobs=3, tasks=9),
        Span(6, "other", None, "u", 0.0, 1.0),
    ]
    st = self_times(spans)
    assert abs(st[1] - (10.0 - 4.0 - 2.0)) < 1e-12  # children cover [1,5] and [8,10]
    assert abs(st[2] - 1.0) < 1e-12
    assert abs(st[4] - 4.0) < 1e-12
    assert st[6] == 1.0
    jobs = inclusive(spans, "jobs")
    assert jobs == {1: 7, 2: 5, 3: 0, 4: 1, 5: 3, 6: 0}
    assert inclusive(spans, "tasks")[1] == 16


def test_benchmark_json_names():
    """BENCHMARK.json lists exactly the metrics a run reports."""
    import json

    from perfbench import layers
    from perfbench.workloads import Segment

    class NoSpans:
        spans: list = []
        counters: dict = {}

    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    reported = layers.per_layer(NoSpans(), Segment([], 1), Segment([], 1), 0.0, 0)
    assert [m["name"] for m in bench["per_layer"]] == list(reported)
    assert [m["unit"] for m in bench["per_layer"]] == [m["unit"] for m in reported.values()]
    assert {m["name"] for m in bench["end_to_end"]} == {
        "op_latency_ms", "ops_per_s", "retained_mb", "setup_s"
    }


def main() -> int:
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
