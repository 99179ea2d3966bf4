"""Tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from harness import Op, OpLog, Tracer, covered, self_time, steal_share, tail  # noqa: E402


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


# -- tail percentile ----------------------------------------------------------


def test_tail_leaves_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    v, pct = tail(values)
    assert v == 90.0 and pct == 90.0
    assert sum(1 for x in values if x > v) == 10


def test_tail_is_order_independent_and_uses_eleventh_largest():
    values = [float((7 * i) % 23) for i in range(23)]  # 0..22, shuffled
    v, pct = tail(values)
    assert v == sorted(values)[-11] == 12.0
    assert pct == pytest.approx(100 * 13 / 23)


def test_tail_at_twenty_samples_sits_at_the_median():
    values = [float(i) for i in range(20)]
    v, pct = tail(values)
    assert (v, pct) == (9.0, 50.0)
    assert sum(1 for x in values if x > v) == 10


@pytest.mark.parametrize("n", [0, 1, 10, 11, 19])
def test_tail_with_too_few_samples_is_absent(n):
    # 11..19 samples leave 10 beyond only at a percentile under the median
    assert tail([float(i) for i in range(n)]) == (0.0, 0.0)


# -- span self-time arithmetic ------------------------------------------------


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, [(1, 3), (2, 5), (8, 12), (-4, -1)]) == pytest.approx(6.0)
    assert covered(0, 10, []) == 0.0


def test_self_time_subtracts_children_and_leaves():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    tr.op = 0
    root = tr.begin("op")          # t=0
    clock.now = 1.0
    child = tr.begin("a.x")        # t=1
    clock.now = 2.0
    grand = tr.begin("b.y")        # t=2
    clock.now = 2.5
    tr.add_leaf("c.leaf", 0.25)    # inside b.y
    tr.end(grand)                  # t=2.5
    clock.now = 4.0
    tr.end(child)                  # t=4
    clock.now = 4.5
    tr.add_leaf("c.leaf", 0.5)     # directly inside the root
    clock.now = 6.0
    tr.end(root)                   # t=6
    s = tr.spans
    assert self_time(s[root], s) == pytest.approx(6.0 - 3.0 - 0.5)
    assert self_time(s[child], s) == pytest.approx(3.0 - 0.5)
    assert self_time(s[grand], s) == pytest.approx(0.5 - 0.25)
    by_layer = tr.layer_self_times()
    assert by_layer["c.leaf"] == pytest.approx(0.75)
    # closure: self times (root self = uncovered remainder) sum to the op wall
    assert sum(by_layer.values()) == pytest.approx(s[root].dur)


def test_wrap_records_spans_only_inside_an_op():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    f = tr.wrap("x.f", lambda v: v, after=lambda t, a, k, o: t.count("n"))
    assert f(1) == 1 and not tr.spans  # no op open: passes through untraced
    tr.op = 3
    assert f(2) == 2
    assert [sp.name for sp in tr.spans] == ["x.f"] and tr.spans[0].op == 3
    assert tr.counters["n"] == 1


def test_offthread_calls_inside_an_op_are_counted_not_recorded():
    tr = Tracer(clock=FakeClock())
    f = tr.wrap("x.f", lambda: 1)

    def call_from_pool():
        t = threading.Thread(target=f)
        t.start()
        t.join()

    call_from_pool()             # no op open: not a misattribution
    tr.op = 0
    call_from_pool()
    assert not tr.spans and tr.offthread_calls == 1


def test_closure_is_checked_against_the_oplog_wall():
    import layers

    clock = FakeClock()
    tr = Tracer(clock=clock)
    tr.op = 0
    root = tr.begin("op")
    clock.now = 1.0
    child = tr.begin("scd2_table.ingest")
    clock.now = 3.0
    tr.end(child)
    clock.now = 4.0
    tr.end(root)
    metrics, _ = layers.span_metrics(tr, {0: (0.0, 4.0)}, {0: 4.25}, None, None, 0.0)
    assert metrics["trace.selftime_closure_err_s"] == pytest.approx(0.25)
    assert metrics["scd2_table.busy_share"] == pytest.approx(0.5)
    assert metrics["scd2_table.ingest.s"] == pytest.approx(2.0)


def test_unbalanced_span_end_raises():
    tr = Tracer(clock=FakeClock())
    a = tr.begin("a")
    tr.begin("b")
    with pytest.raises(RuntimeError):
        tr.end(a)


def test_steal_share_is_the_steal_column_over_all_ticks():
    start = [100, 0, 10, 500, 0, 0, 0, 20, 0, 0]
    end = [160, 0, 20, 520, 0, 0, 0, 30, 0, 0]   # +60 user +10 sys +20 idle +10 steal
    assert steal_share(start, end) == pytest.approx(0.1)
    assert steal_share(start, start) == 0.0


# -- error counting -------------------------------------------------------------


def test_oplog_counts_exceptions_and_wrong_answers():
    clock = FakeClock()
    log = OpLog()

    def boom():
        raise ValueError("x")

    def slow():
        clock.now += 2.0
        return 41

    ok = log.execute(Op("read", "ok", lambda: 1, lambda r: None), clock)
    bad = log.execute(Op("read", "boom", boom), clock)
    wrong = log.execute(Op("write", "wrong", slow, lambda r: None if r == 42 else "off by one"),
                        clock)
    assert (log.attempted, log.failed) == (3, 2)
    assert log.error_ratio() == pytest.approx(2 / 3)
    assert ok.error is None and "ValueError" in bad.error and wrong.error == "off by one"
    assert wrong.wall == 2.0  # a failed op's latency still counts
    stats = log.class_stats()
    assert stats["read"]["n"] == 2 and stats["write"]["n"] == 1


def test_oplog_counts_a_crashing_check_as_failed():
    log = OpLog()
    log.execute(Op("read", "x", lambda: None, lambda r: r["missing"]))
    assert log.failed == 1 and "check" in log.records[0].error


# -- generator determinism ------------------------------------------------------

SMALL_OLAP = dict(gen.OLAP, customers=50, suppliers=10, parts=40, orders=200,
                  customer_updates_per_tx=5, order_updates_per_tx=5,
                  contains_closed_per_tx=10, contains_reopened_per_tx=5)
SMALL_CORPUS = dict(gen.CORPUS, base_docs=40, batch_docs=40, batches=2,
                    planted_per_batch=5, intra_batch_dups=3)
SMALL_SCD2 = dict(gen.SCD2, keys=50, batch_rows=20, batches=4)

GENERATORS = [
    lambda s: gen.oltp_build(s, dict(gen.OLTP, vertices=30, edges=60, updates=80)),
    lambda s: gen.olap_graph(s, SMALL_OLAP),
    lambda s: gen.corpus(s, SMALL_CORPUS),
    lambda s: gen.scd2_batches(s, SMALL_SCD2),
]


@pytest.mark.parametrize("make", GENERATORS, ids=["oltp", "olap", "corpus", "scd2"])
def test_same_seed_same_bytes_other_seed_other_bytes(make):
    assert gen.digest(make(5)) == gen.digest(make(5))
    assert gen.digest(make(5)) != gen.digest(make(6))


def test_corpus_plants_near_duplicates_of_base_docs():
    c = gen.corpus(3, SMALL_CORPUS)
    text = dict(zip(c["ids"], c["text"]))
    for orig, dup in c["planted"]:
        assert orig < c["base"] <= dup
        a, b = text[orig].split(), text[dup].split()
        assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 2


def test_scd2_late_rows_carry_past_times_and_keys_are_unique_in_time():
    d = gen.scd2_batches(4, SMALL_SCD2)
    b = d["batches"]
    win = SMALL_SCD2["window_s"] * 10**6
    t0 = int(gen.T0.timestamp() * 10**6)
    late = sum(int((t.astype("int64") - t0) // win) < i
               for i in range(2, len(b)) for t in b[i]["ts"])
    assert late > 0
    stamps = [(int(k), int(t.astype("int64"))) for x in b for k, t in zip(x["key"], x["ts"])]
    assert len(set(stamps)) == len(stamps)


# -- the OLTP shadow model ------------------------------------------------------


def test_shadow_bumps_endpoints_once_per_tx_and_cascades_removal():
    from w_oltp import Shadow

    sh = Shadow()
    a, b = sh.add_vertex(1), sh.add_vertex(2)
    loop = sh.add_edge(a, a, "knows", 3)   # self-loop: one bump, not two
    e = sh.add_edge(a, b, "knows", 4)
    assert len(sh.v[a]) == 3 and len(sh.v[b]) == 2
    gone = sh.remove_vertex(a, 5)
    assert gone == sorted([loop, e])
    assert sh.state(sh.v[a], None) is None and sh.state(sh.e[e], None) is None
    assert sh.state(sh.v[a], 4) == {}      # as of tx 4 it is still there
    assert sh.checkpoint(3.5) == 3


def test_expected_difference_drops_orphan_type_facts():
    from w_oltp import COL, IN_V, LABEL, OUT_V, TE, TV, TYPE_ATTR, expected_difference

    f1 = {(1, TYPE_ATTR, TV), (1, COL["score"], "7"), (2, TYPE_ATTR, TV),
          (9, TYPE_ATTR, TE), (9, OUT_V, 1), (9, IN_V, 2), (9, LABEL, "knows")}
    f2 = {(1, TYPE_ATTR, TV), (1, COL["score"], "5"), (2, TYPE_ATTR, TV),
          (9, TYPE_ATTR, TE), (9, OUT_V, 1), (9, IN_V, 2), (9, LABEL, "knows")}
    vertices, edges = expected_difference(f1, f2)
    assert vertices == [(1, [("score", 7)])] and edges == []
