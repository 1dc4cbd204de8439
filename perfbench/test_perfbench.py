"""Self-tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os

from perfbench import gen, run, trace, workloads


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, names in sorted(os.walk(path)):
        for n in sorted(names):
            with open(os.path.join(dirpath, n), "rb") as f:
                h.update(n.encode() + f.read())
    return h.hexdigest()


def test_same_seed_gives_same_bytes(tmp_path):
    t = gen.Traffic(cities=5, days=3, obs_per_day=4)
    for sub, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_raw_history(str(tmp_path / sub), seed, t)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_generator_counts_valid_docs(tmp_path):
    t = gen.Traffic(cities=10, days=20, obs_per_day=5)
    docs, valid = gen.write_raw_history(str(tmp_path), 3, t)
    assert docs == 10 * 20 * 5
    bad = sum(1 for d in gen.raw_doc_stream(3, t) if not d["_valid"])
    assert valid == docs - bad and 0 < bad < docs // 10


def test_p90_withheld_below_ten_samples_beyond():
    assert run.p90([float(x) for x in range(90)]) is None  # 9 samples beyond
    assert run.p90([float(x) for x in range(100)]) is not None
    assert run.p90([1.0] * 500) is None  # ties: nothing lies beyond


def test_self_time_subtracts_children_union():
    S = trace.Span
    spans = [
        S("r", "op", 0.0, 10.0, None, 0),
        S("a", "x", 1.0, 4.0, "r", 0),
        S("b", "y", 3.0, 6.0, "r", 0),   # overlaps a
        S("c", "z", 2.0, 3.0, "a", 0),   # grandchild: not subtracted from r
        S("d", "w", 9.0, 12.0, "r", 0),  # runs past its parent's end
    ]
    st = trace.self_times(spans)
    assert st == {"r": 4.0, "a": 2.0, "b": 3.0, "c": 1.0, "d": 3.0}


class _FakeSC:
    def __init__(self):
        self.props = []

    def setLocalProperty(self, key, value):
        self.props.append(value)


def test_tracer_nests_and_restores_job_group():
    sc = _FakeSC()
    tr = trace.Tracer(sc, enabled=True)
    with tr.span("op", 3) as root:
        with tr.span("child", 3) as child:
            pass
    by_id = {s.id: s for s in tr.spans}
    assert by_id[child].parent == root and by_id[root].parent is None
    assert sc.props == [root, child, root, None]
    tr.enabled = False
    with tr.span("op", 4) as sid:
        assert sid is None
    assert len(tr.spans) == 2


class _FakeWorkload:
    name = "fake"
    rows_per_op = 10

    def __init__(self, corrupt: set[int]):
        self.tracer = trace.Tracer()
        self.corrupt = corrupt

    def prepare(self, i):
        pass

    def op(self, i):
        return i + 1 if i in self.corrupt else i

    def check(self, i, answer):
        return answer == i

    def cleanup(self, i):
        pass

    def drain(self):
        return 0


class _Clock:
    """Each perf_counter() call advances 1 s, so every op (bracketed by two
    calls) takes 1 s."""

    def __init__(self):
        self.t = 0.0

    def perf_counter(self):
        self.t += 1.0
        return self.t

    def monotonic(self):
        return 0.0


def test_corrupted_answer_counts_toward_error_rate(monkeypatch):
    monkeypatch.setattr(run, "time", _Clock())
    w = _FakeWorkload(corrupt={2})
    ops = run.measure(w, seconds=5, trace=False, wall_end=1.0)
    _, extra = run.end_to_end(w, 1.0, ops)
    assert [o["ok"] for o in ops] == [True, True, False, True, True]
    assert extra["error_rate"] == 1 / 5


def test_answer_checks_reject_corruption():
    spark_rows = [{"city": "A", "temp_mean": 1.25, "temp_min": 0.5, "temp_max": 2.0,
                   "humidity_mean": 50.0, "wind_mean": 3.0, "n_obs": 4}]
    duck = [("A", 1.25, 0.5, 2.0, 50.0, 3.0, 4)]
    assert workloads.city_comparison_matches(spark_rows, duck)
    assert not workloads.city_comparison_matches(spark_rows, [("A", 1.25, 0.5, 2.0, 50.0, 3.0, 5)])
    assert not workloads.city_comparison_matches(spark_rows, [("A", 1.31, 0.5, 2.0, 50.0, 3.0, 4)])

    view = [("2024-01-02", "A", 3, 10.5)]
    assert workloads.view_matches(view, [("2024-01-02", "A", 3, 10.5)])
    assert not workloads.view_matches(view, [("2024-01-02", "A", 4, 10.5)])
    assert not workloads.view_matches(view, [("2024-01-02", "A", 3, 10.5),
                                             ("2024-01-03", "A", 1, 1.0)])
