"""The benchmark workloads: seeded inputs, one timed pass, and the check
of every timed operation's output.

Each workload calls the package's public functions the way a user would.
A pass is the unit the runner times; an operation (``Op``) is the unit that
is checked and counted in ``attempted``/``failed``. Checks run after the
pass, outside every timer. Where ``model_audit_spark.oracle`` has a DuckDB
twin for an operation, the check compares value digests with
``scripts/check_oracle.py``'s hashing; otherwise it checks invariants.
"""

from __future__ import annotations

import re
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

import gen

ROOT = Path(__file__).resolve().parent.parent


def _check_oracle():
    """scripts/check_oracle.py, imported without the sys.path entry it
    adds for its own command-line use."""
    saved = list(sys.path)
    sys.path.insert(0, str(ROOT / "scripts"))
    try:
        import check_oracle
    finally:
        sys.path[:] = saved
    return check_oracle


def digest(cols, rows, side: str) -> str:
    return _check_oracle().frame_digest(cols, [list(r) for r in rows], side)


@dataclass
class Op:
    name: str
    seconds: float = 0.0
    out: object = None
    cols: list = field(default_factory=list)


class Workload:
    name = ""
    docs_per_pass = 0

    def __init__(self, seed: int, work: Path, tracer):
        import duckdb

        self.tr = tracer
        self.spark = None
        self.ops: list[Op] = []
        self.current = ""
        self.attempted = 0
        self.sizes: dict = {}
        self.duck = duckdb.connect()
        # DuckDB twin results, keyed by operation and input
        self._expected: dict = {}

    # -- lifecycle --------------------------------------------------------

    def bind(self, spark) -> None:
        self.spark = spark

    def prepare(self) -> None:
        """Per-process set-up beyond the session; counted in setup_s."""

    def run_pass(self) -> list[Op]:
        raise NotImplementedError

    def check_pass(self, ops: list[Op]) -> list[tuple[str, str]]:
        """(op name, failure) for every op whose output is wrong."""
        raise NotImplementedError

    def extra_metrics(self) -> dict:
        """Run-level per-layer figures, read after the timed passes."""
        return {}

    # -- helpers ----------------------------------------------------------

    @contextmanager
    def op(self, name: str):
        self.current = name
        self.attempted += 1
        o = Op(name)
        t0 = time.perf_counter()
        yield o
        o.seconds = time.perf_counter() - t0
        self.ops.append(o)

    def span(self, name: str, layer: str):
        return self.tr.span(name, layer)

    def release(self) -> None:
        from model_audit_spark import persistence

        with self.span("persistence.release", "persistence") as s:
            persistence.release_all()
        s.counts["tracked_after_release"] = persistence.tracked_count()
        s.counts["cached_after_release"] = (
            self.spark.sparkContext._jsc.getPersistentRDDs().size()
        )

    def oracle_mismatch(self, key: str, sql: str, cols, rows) -> str | None:
        """Compare Spark rows against the DuckDB twin's rows by value
        digest; the twin's digest is cached under `key`."""
        if key not in self._expected:
            rel = self.duck.sql(sql)
            self._expected[key] = digest(rel.columns, rel.fetchall(), "oracle")
        want = self._expected[key]
        got = digest(cols, rows, "spark")
        if got != want:
            return f"value digest {got} != oracle twin {want}"
        return None


# ------------------------------------------------------------ curate_search

class CurateSearch(Workload):
    """Batch curation of one corpus (curate, near-dup pairs, clusters,
    decontamination against a held-out eval slice, packing), then one batch
    of ANN queries against an IVF-SQ8 index built at set-up."""

    name = "curate_search"
    N_DOCS = 2000
    N_EVAL = 200
    MIN_QUALITY = 0.6  # data-calibrated, as the curate_corpus gate query
    CONTEXT_LEN = 256
    N_VECS = 2000
    N_QUERIES = 8
    K = 10
    NPROBE = 3
    RECALL_FLOOR = 0.3

    def __init__(self, seed, work, tracer):
        super().__init__(seed, work, tracer)
        import numpy as np

        cal = gen.load_calibration()
        tbl = gen.documents_table(cal, seed, self.N_DOCS + self.N_EVAL)
        self.corpus_dir = work / "documents"
        self.eval_dir = work / "eval"
        nbytes = gen.write_dataset(tbl.slice(0, self.N_DOCS), self.corpus_dir)
        nbytes += gen.write_dataset(tbl.slice(self.N_DOCS), self.eval_dir)
        emb = gen.embeddings_table(cal, seed, self.N_VECS)
        self.emb_dir = work / "embeddings"
        nbytes += gen.write_dataset(emb, self.emb_dir)
        self.vecs = np.array(
            emb.column("embedding").to_pylist(), dtype=np.float64
        )
        self.query_rng = np.random.default_rng([seed, 3])
        self.ann_dir = work / "ivf_sq8_index"
        self.docs_per_pass = self.N_DOCS
        self.sizes = {
            "docs": self.N_DOCS, "eval_docs": self.N_EVAL,
            "embeddings": self.N_VECS, "queries_per_pass": self.N_QUERIES,
            "bytes": nbytes,
        }
        con = self.duck
        con.sql(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"'{self.corpus_dir}/*.parquet'"
        )
        con.sql(
            f"CREATE VIEW embeddings AS SELECT * FROM "
            f"'{self.emb_dir}/*.parquet'"
        )
        self.verified_pairs = 0
        self.recalls: list[float] = []

    def prepare(self):
        from model_audit_spark.operators.similarity import ivf_sq8_index_write

        with self.span("ann.build", "similarity"):
            ivf_sq8_index_write(
                self.spark.read.parquet(str(self.emb_dir)), str(self.ann_dir)
            )

    def run_pass(self) -> list[Op]:
        from model_audit_spark.operators.cluster import cluster_documents
        from model_audit_spark.operators.curate import curate_corpus
        from model_audit_spark.operators.decontam import decontaminate
        from model_audit_spark.operators.dedup import (
            jaccard_verify,
            minhash_band_pairs,
            minhash_signatures,
        )
        from model_audit_spark.operators.packing import pack_chunks
        from model_audit_spark.operators.similarity import (
            ivf_sq8_index_probe_many,
        )
        from model_audit_spark.persistence import track

        self.ops = []
        with self.span("sources.read", "sources"):
            docs = self.spark.read.parquet(str(self.corpus_dir))
            evals = self.spark.read.parquet(str(self.eval_dir))
        with self.op("curate") as o:
            with self.span("curate.build", "curate"):
                verdicts = track(
                    curate_corpus(docs, min_quality=self.MIN_QUALITY)
                    .persist()
                )
            with self.span("curate.exec", "curate"):
                o.out = verdicts.collect()
            o.cols = verdicts.columns
        with self.op("dedup") as o:
            with self.span("dedup.build", "dedup"):
                pairs = track(
                    jaccard_verify(
                        docs,
                        minhash_band_pairs(minhash_signatures(docs)),
                        min_jaccard=0.5,
                    ).persist()
                )
            with self.span("dedup.exec", "dedup"):
                o.out = pairs.collect()
            o.cols = pairs.columns
        with self.op("cluster") as o:
            with self.span("cluster.build", "cluster"):
                clusters = cluster_documents(
                    docs, pairs.select("id_a", "id_b")
                )
            with self.span("cluster.exec", "cluster"):
                o.out = clusters.collect()
            o.cols = clusters.columns
        with self.op("decontam") as o:
            with self.span("decontam.build", "decontam"):
                kept = docs.join(
                    verdicts.filter("kept").select("doc_id"),
                    "doc_id",
                    "left_semi",
                )
                clean = track(decontaminate(kept, evals).persist())
            with self.span("decontam.exec", "decontam"):
                o.out = clean.select("doc_id").collect()
        with self.op("packing") as o:
            with self.span("packing.build", "packing"):
                packed = pack_chunks(clean, context_len=self.CONTEXT_LEN)
            with self.span("packing.exec", "packing"):
                o.out = packed.collect()
        self.release()
        qids = sorted(int(i) for i in self.query_rng.choice(
            self.N_VECS, self.N_QUERIES, replace=False
        ))
        with self.op("query") as o:
            with self.span("ann.probe", "similarity"):
                q = self.spark.createDataFrame(
                    [(i, self.vecs[i].tolist()) for i in qids],
                    "query_id BIGINT, qv ARRAY<DOUBLE>",
                )
                o.out = (qids, ivf_sq8_index_probe_many(
                    self.spark, str(self.ann_dir), q,
                    k=self.K, nprobe=self.NPROBE,
                ).collect())
        return self.ops

    def check_pass(self, ops):
        from model_audit_spark import oracle as ora

        by = {o.name: o for o in ops}
        bad: list[tuple[str, str]] = []

        def fail(name, msg):
            if msg:
                bad.append((name, msg))

        verdicts = by["curate"].out
        ids = [r.doc_id for r in verdicts]
        if len(ids) != self.N_DOCS or set(ids) != set(range(self.N_DOCS)):
            fail("curate", f"{len(ids)} verdicts for {self.N_DOCS} docs")
        kept = {r.doc_id for r in verdicts if r.kept}
        if not kept <= set(range(self.N_DOCS)):
            fail("curate", "kept ids outside the corpus")
        fail("curate", self.oracle_mismatch(
            "curate_corpus",
            ora.materialized(ora.curate_corpus(min_quality=self.MIN_QUALITY)),
            by["curate"].cols, verdicts,
        ))
        self.verified_pairs = len(by["dedup"].out)
        fail("dedup", self.oracle_mismatch(
            "dedup_minhash_pairs",
            ora.materialized(ora.dedup_minhash_pairs(0.5)),
            by["dedup"].cols, by["dedup"].out,
        ))
        fail("cluster", self.oracle_mismatch(
            "dedup_clusters", ora.materialized(ora.dedup_clusters()),
            by["cluster"].cols, by["cluster"].out,
        ))
        clean = {r.doc_id for r in by["decontam"].out}
        if not clean <= kept:
            fail("decontam", f"{len(clean - kept)} decontaminated docs "
                             "were not kept by curation")
        fail("packing", _packing_mismatch(by["packing"].out, clean))
        for msg in self._query_mismatches(*by["query"].out):
            fail("query", msg)
        return bad

    def _query_mismatches(self, qids, rows) -> list[str]:
        """Every query against the ivf_sq8_topk twin; the batch's mean
        recall@K against the exact cosine top-K against its floor."""
        from model_audit_spark import oracle as ora

        bad, recalls = [], []
        for qid in qids:
            got = [(r.vec_id, r.approx_dot) for r in rows
                   if r.query_id == qid]
            msg = self.oracle_mismatch(
                f"ivf:{qid}",
                ora.ivf_sq8_topk(
                    query_vec_id=qid, k=self.K, nprobe=self.NPROBE
                ),
                ["vec_id", "approx_dot"], got,
            )
            if msg:
                bad.append(f"query {qid}: {msg}")
            exact = set(self._exact_topk(qid))
            recalls.append(len(exact & {v for v, _ in got}) / self.K)
        self.recalls.extend(recalls)
        if statistics.mean(recalls) < self.RECALL_FLOOR:
            bad.append(f"recall@{self.K} {statistics.mean(recalls):.3f} "
                       f"< {self.RECALL_FLOOR}")
        return bad

    def _exact_topk(self, qid: int) -> list[int]:
        """cosine_topk's order: rounded cosine descending, id ascending."""
        import numpy as np

        v = self.vecs
        sims = np.round(
            v @ v[qid] / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[qid])),
            6,
        )
        order = sorted(range(len(v)), key=lambda i: (-sims[i], i))
        return order[: self.K]

    def extra_metrics(self) -> dict:
        from model_audit_spark.operators.dedup import (
            minhash_band_pairs,
            minhash_signatures,
        )

        docs = self.spark.read.parquet(str(self.corpus_dir))
        cand = minhash_band_pairs(minhash_signatures(docs)).count()
        return {
            "dedup.candidate_pairs": cand,
            "dedup.verified_pairs": self.verified_pairs,
            "dedup.verify_yield": self.verified_pairs / cand if cand else 0.0,
            "ann.recall_at_10": (
                statistics.mean(self.recalls) if self.recalls else 0.0
            ),
        }


def _packing_mismatch(rows, ids: set) -> str | None:
    """Packed rows must cover exactly `ids`, and within each shard the
    token offsets must tile [0, total) in doc_id order with no gap or
    overlap."""
    got = [r.doc_id for r in rows]
    if len(got) != len(set(got)) or set(got) != ids:
        return f"packed {len(got)} rows for {len(ids)} docs"
    shards: dict[int, list] = {}
    for r in rows:
        shards.setdefault(r.shard, []).append(r)
    for shard, rs in shards.items():
        off = 0
        for r in sorted(rs, key=lambda r: r.doc_id):
            if r.start_off != off:
                return f"shard {shard}: doc {r.doc_id} starts at " \
                       f"{r.start_off}, expected {off}"
            off += r.n_tokens
    return None


# ------------------------------------------------------- audit_interactive

VERDICTS = ("likely_derived", "independent", "inconclusive")
# the conclusion line of report._generate_detailed_report
CONCLUSION = re.compile(
    r"\*\*(?P<verdict>[^*]+)\*\* \(平均相似度 (?P<avg>[0-9.]+), "
    r"(?P<derived>\d+)/(?P<total>\d+) "
)


def _conclusion_mismatch(md: str, twin_row) -> str | None:
    """The report's conclusion line must state the twin's verdict, average
    similarity and votes. The twin rounds avg_similarity to 6 places and
    the report prints 4, so they agree within half a unit of each."""
    from model_audit_spark.report import VERDICT_MAP

    avg, derived, total, verdict, _ = twin_row
    m = CONCLUSION.search(md)
    if (
        verdict in VERDICTS
        and m is not None
        and m["verdict"] == VERDICT_MAP[verdict][1]
        and abs(float(m["avg"]) - avg) <= 0.5e-4 + 0.5e-6
        and (int(m["derived"]), int(m["total"])) == (derived, total)
    ):
        return None
    said = m.group(0) if m else "no conclusion line"
    return f"report says {said!r}; oracle twin: {verdict} {avg} " \
           f"{derived}/{total}"


class AuditInteractive(Workload):
    """Sequential audit requests from one client over a fixed responses
    relation: 20 probe responses for each of ~20 models. A pass is one
    request."""

    name = "audit_interactive"
    N_DOCS = 1000
    PROBES = 20

    def __init__(self, seed, work, tracer):
        super().__init__(seed, work, tracer)
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        cal = gen.load_calibration()
        docs = gen.documents_table(cal, seed, self.N_DOCS).to_pylist()
        rows = []
        for src in sorted({d["source"] for d in docs}):
            mine = [d for d in docs if d["source"] == src][: self.PROBES]
            if len(mine) < self.PROBES:
                continue
            for i, d in enumerate(mine, 1):
                rows.append((src, i, f"p{i}", "synthetic", d["text"]))
        self.models = sorted({r[0] for r in rows})
        cols = list(zip(*rows))
        tbl = pa.table({
            "model_id": pa.array(cols[0]),
            "probe_seq": pa.array(cols[1], type=pa.int32()),
            "probe_id": pa.array(cols[2]),
            "category": pa.array(cols[3]),
            "response": pa.array(cols[4]),
        })
        self.resp_dir = work / "responses"
        self.resp_dir.mkdir(parents=True)
        pq.write_table(tbl, self.resp_dir / "part-0000.parquet")
        rng = np.random.default_rng([seed, 2])
        self.pairs = [
            tuple(self.models[j] for j in rng.choice(
                len(self.models), 2, replace=False
            ))
            for _ in range(2_000)
        ]
        self.next = 0
        self.docs_per_pass = 2 * self.PROBES
        self.sizes = {
            "docs": self.N_DOCS, "responses": tbl.num_rows,
            "models": len(self.models), "embeddings": 0,
            "bytes": (self.resp_dir / "part-0000.parquet").stat().st_size,
        }
        self.duck.sql(
            f"CREATE VIEW documents AS SELECT model_id AS source, "
            f"response AS text FROM '{self.resp_dir}/*.parquet'"
        )

    def bind(self, spark) -> None:
        super().bind(spark)
        self.resp = spark.read.parquet(str(self.resp_dir))

    def run_pass(self):
        from model_audit_spark import report
        from model_audit_spark.engine import AuditEngine
        from model_audit_spark.probing import StaticResponseSource

        self.ops = []
        teacher, student = self.pairs[self.next]
        self.next += 1
        with self.op("request") as o:
            engine = AuditEngine(self.spark, StaticResponseSource(self.resp))
            with self.span("engine.audit", "engine"):
                result = engine.audit(teacher, student)
            with self.span("report.render", "report"):
                md = report.generate_report(result)
            with self.span("engine.verify", "engine"):
                ver = engine.verify(student).collect()
            self.release()
            o.out = (teacher, student, md, ver)
        return self.ops

    def check_pass(self, ops):
        from model_audit_spark import oracle as ora

        bad = []
        for o in ops:
            teacher, student, md, ver = o.out
            key = (teacher, student)
            if key not in self._expected:
                self._expected[key] = self.duck.sql(
                    ora.audit_verdict_sources(teacher, student)
                ).fetchone()
            msg = _conclusion_mismatch(md, self._expected[key])
            if msg:
                bad.append((o.name, f"{teacher} vs {student}: {msg}"))
            if len(ver) != 1 or ver[0].model != student:
                bad.append((o.name, f"verify({student}) returned {ver}"))
        return bad


WORKLOADS = {w.name: w for w in (CurateSearch, AuditInteractive)}
