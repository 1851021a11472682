"""Tests for the benchmark's own code: input determinism, the event-log
parser on a tiny traced run, and the output checks.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
import threading
from pathlib import Path
from types import SimpleNamespace

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import spans  # noqa: E402
from workloads import _conclusion_mismatch, _packing_mismatch  # noqa: E402


def _write_all(tmp: Path, seed: int) -> dict[str, bytes]:
    cal = gen.load_calibration()
    gen.write_dataset(gen.documents_table(cal, seed, 300), tmp / "documents")
    gen.write_dataset(gen.embeddings_table(cal, seed, 100), tmp / "embeddings")
    return {
        str(p.relative_to(tmp)): p.read_bytes()
        for p in sorted(tmp.rglob("*.parquet"))
    }


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _write_all(tmp_path / "a", 5)
    b = _write_all(tmp_path / "b", 5)
    c = _write_all(tmp_path / "c", 6)
    assert a and a == b
    assert a != c


def test_generated_corpus_follows_the_calibration():
    cal = gen.load_calibration()
    docs = gen.documents_table(cal, 3, 2000)
    texts = docs.column("text").to_pylist()
    assert docs.column("doc_id").to_pylist() == list(range(2000))
    # the 5% near-dup injection: " dup" copies of earlier fresh docs
    dups = [t for t in texts if t.endswith(" dup")]
    assert 0.02 < len(dups) / len(texts) < 0.08
    assert all(t[: -len(" dup")] in texts for t in dups)
    assert set(docs.column("source").to_pylist()) <= set(cal["sources"])
    emb = gen.embeddings_table(cal, 3, 50)
    assert len(emb.column("embedding")[0]) == 64


def _row(doc_id, shard, n_tokens, start_off):
    return SimpleNamespace(
        doc_id=doc_id, shard=shard, n_tokens=n_tokens, start_off=start_off
    )


def test_packing_check_accepts_tiling_and_rejects_gaps():
    good = [_row(1, 0, 5, 0), _row(4, 0, 3, 5), _row(2, 1, 7, 0)]
    assert _packing_mismatch(good, {1, 2, 4}) is None
    gap = [_row(1, 0, 5, 0), _row(4, 0, 3, 6), _row(2, 1, 7, 0)]
    assert "expected 5" in _packing_mismatch(gap, {1, 2, 4})
    assert _packing_mismatch(good, {1, 2, 3, 4}) is not None


def test_conclusion_check_tolerates_the_twins_6_place_rounding():
    line = "? **无法确定** (平均相似度 0.8090, 1/2 方法判定为派生, 置信度: 低)"
    # Spark's 0.80904988 prints 0.8090; the twin's 6-place 0.80905 would
    # print 0.8091
    assert _conclusion_mismatch(line, (0.80905, 1, 2, "inconclusive", 0.3)) \
        is None
    assert _conclusion_mismatch(line, (0.80905, 2, 2, "inconclusive", 0.3))
    assert _conclusion_mismatch(line, (0.8093, 1, 2, "inconclusive", 0.3))
    assert _conclusion_mismatch(line, (0.80905, 1, 2, "independent", 0.3))
    assert _conclusion_mismatch("no report", (0.8, 1, 2, "inconclusive", 0))


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """A tiny traced run: span `outer` runs one job and a job from a
    helper thread (no job group), span `inner` nested in it runs another;
    `after` runs no job."""
    from model_audit_spark import get_spark

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = get_spark(
        app_name="perfbench-test",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    tr = spans.Tracer(traced=True)
    tr.bind(spark)
    tr.pass_no = 0
    with tr.span("outer", "layer_a"):
        spark.range(0, 1000, numPartitions=3).count()
        t = threading.Thread(
            target=lambda: spark.range(0, 10, numPartitions=2).collect()
        )
        t.start()
        t.join(timeout=120)
        assert not t.is_alive()
        with tr.span("inner", "layer_b"):
            spark.range(0, 100, numPartitions=4).groupBy().sum().collect()
    with tr.span("after", "layer_a"):
        pass
    spark.stop()
    tasks = spans.read_event_log(sorted(log_dir.iterdir()))
    orphans = spans.attribute_tasks(tr.spans, tasks)
    return tr, tasks, orphans


def test_event_log_tasks_charge_to_innermost_span(traced):
    tr, tasks, orphans = traced
    outer, inner, after = tr.spans
    assert orphans == 0
    assert inner.parent == outer.id and outer.parent is None
    # grouped jobs: statusTracker sees each span's own group only
    assert outer.jobs >= 1 and inner.jobs >= 1 and after.jobs == 0
    # 3 tasks of the count's scan plus the helper thread's 2 tasks (no
    # group, charged by time) land in `outer`; the 4-way scan in `inner`
    assert outer.self_tasks["tasks"] >= 5
    assert inner.self_tasks["tasks"] >= 4
    assert after.self_tasks["tasks"] == 0
    assert outer.total_tasks["tasks"] == (
        outer.self_tasks["tasks"] + inner.total_tasks["tasks"]
    )
    assert sum(s.self_tasks["tasks"] for s in tr.spans) == len(tasks)
    for s in tr.spans:
        assert s.self_tasks["task_overhead_ms"] >= 0
        assert s.end >= s.start and s.dur >= 0


def test_per_pass_takes_the_median_of_per_pass_sums():
    mk = lambda name, p, d: spans.Span(  # noqa: E731
        id=0, name=name, layer="x", parent=None, pass_no=p, start=0, dur=d
    )
    ss = [mk("a", 0, 1.0), mk("a", 0, 2.0), mk("a", 1, 5.0), mk("b", 2, 9.0),
          mk("a", -1, 100.0)]
    val = lambda s: s.dur if s.name == "a" else 0.0  # noqa: E731
    assert spans.per_pass(ss, val, {0, 1}) == 4.0
    assert spans.per_pass(ss, val, {0, 1, 2}) == 3.0
    assert spans.per_pass(ss, val, {-1}) == 100.0
