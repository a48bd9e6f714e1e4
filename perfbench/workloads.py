"""The benchmark's two workloads.

Each workload is a fixed list of named operations. ``--seed`` fixes
the order they run in (``floor``) or the data they run on
(``apply``). An operation is a callable ``(spark) -> DataFrame``; the
harness times the call plus the collection of its result, then checks
the collected result with ``check``.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.001")

# Queries from the registry, few enough that a run, JVM start included,
# stays near a minute on a 4-core host (README.md "Sizing"). FLOOR's
# first query runs first in every run: a cheap call that takes the extra
# cost the first call after the warm-up pays, so that cost does not move
# with the seed's order; the seed orders the rest of FLOOR. PIPELINE
# follows in the order listed (corpus build, RAG and streaming ingest as
# docs/PIPELINES.md orders them, then the graph loop): how long g5's and
# st10's calls take depends on how far the run is (the JIT warms up), so
# a seeded order moved their calls by 30 % from run to run.
FLOOR = [
    "p15_zorder_key",  # native bit expressions
    "j4_asof_join",  # as-of join (union + window)
    "w5_scd2_intervals",  # two window passes
    "o7_ps_apply",  # pandas API on Spark passthrough
    "e8_pca_gram",  # Gramian pass
    "agg10_profile",  # column profile
    "mm26b_mp3_census_ranged",  # synthesized MP3 files, ranged header reads
    "u1_chunk_text_udtf",  # Python UDTF in a LATERAL join (not a registry query)
]
PIPELINE = [
    "p2_hash_split",  # corpus build: deterministic split
    "t14_chunk_overlap",  # RAG: chunking
    "e7_cosine_topk_ivfpq_persisted",  # RAG: index build (writes) + probe
    "st10_stream_neardup",  # streaming ingest: micro-batches + state
    "g5_kcore",  # graph loop, 27 jobs
]
WARMUP_QUERY = "q1_pricing_summary"
# ANN queries: checked by recall against the exact top-5
ANN = {"e6_cosine_topk_ivfpq", "e7_cosine_topk_ivfpq_persisted"}
RECALL_FLOOR = 0.75  # the IVF-PQ gates' floor (suite_gates e6_gate/e7_gate)


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    # a unique id orders rows alone, and much faster than every column
    by = ["id"] if "id" in df.columns and df["id"].is_unique else list(df.columns)
    return df.sort_values(by).reset_index(drop=True)


def frames_equal(
    a: pd.DataFrame, b: pd.DataFrame, rtol: float = 0.0, atol: float = 0.0
) -> str | None:
    """None when equal (floats exactly, or within the tolerances), else why not."""
    a, b = _norm(a), _norm(b)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            av, bv = av.astype(float), bv.astype(float)
            ok = np.isclose(av, bv, rtol=rtol, atol=atol, equal_nan=True) | (av == bv)
        else:
            sa, sb = pd.Series(av), pd.Series(bv)
            ok = ((sa == sb) | (sa.isna() & sb.isna())).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {c} row {i}: {av[i]!r} vs {bv[i]!r}"
    return None


@dataclass
class Outcome:
    ok: bool
    detail: str = ""
    recall: float | None = None


@dataclass
class Workload:
    name: str
    order: list[str]
    ops: dict[str, Callable] = field(default_factory=dict)

    def prepare(self, spark, work: str) -> None:
        """Fixture generation or cache (timed as set-up)."""

    def reset(self, name: str) -> None:
        """Untimed clean-up before each call, so calls are independent."""

    def check(self, spark, name: str, out: pd.DataFrame) -> Outcome:
        raise NotImplementedError


class RegistryWorkload(Workload):
    """Registry queries at sf0.001 (``perfbench/data``), raw operator
    output as ``bench.py`` times it."""

    def __init__(self, name: str, names: list[str], seed: int, tail: list[str]) -> None:
        # the first name leads every run, the seed orders the rest, and
        # the tail closes every run in its own order
        order = list(names[1:])
        random.Random(seed).shuffle(order)
        super().__init__(name, names[:1] + order + tail)
        self._duck = None
        self._oracles: dict[str, str] = {}
        self._repointed: set[str] = set()

    def prepare(self, spark, work: str) -> None:
        from sparkswift import suite

        raw = suite.raw_queries()
        qs = dict(suite.queries())
        qs.update(raw)
        qs.update(EXTRA_OPS)
        self._repointed = set(raw)
        self._oracles = suite.oracles()
        self.ops = {n: (lambda s, fn=qs[n]: fn(s, DATA)) for n in self.order}
        # bench.py's unrecorded warm-up query: the session's first
        # registry query pays for codegen and planner paths no generic
        # job touches, and without it that cost lands on whichever
        # operation the seed puts first
        qs[WARMUP_QUERY](spark, DATA).toPandas()

    def reset(self, name: str) -> None:
        if name == "e7_cosine_topk_ivfpq_persisted":
            # build + probe on every call: the persisted index lives in
            # <checkout>/.cache, keyed by the sf dir's name
            cache = os.path.join(os.path.dirname(HERE), ".cache")
            if os.path.isdir(cache):
                for d in os.listdir(cache):
                    if d.startswith("ivfpq_sf0.001_"):
                        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)

    def _oracle(self, sql: str) -> pd.DataFrame:
        import duckdb

        if self._duck is None:
            self._duck = duckdb.connect()
            for f in sorted(os.listdir(DATA)):
                t = f.removesuffix(".parquet")
                self._duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(DATA, f)}')"
                )
        return self._duck.execute(sql).df()

    def check(self, spark, name: str, out: pd.DataFrame) -> Outcome:
        if name in ANN:
            r = ann_recall(out)
            return Outcome(r >= RECALL_FLOOR, f"recall@5 {r:.4f}", recall=r)
        if name == "g5_kcore":
            return check_kcore(out, self._oracle(COPART_EDGES))
        if name == "st10_stream_neardup":
            return check_neardup(spark, out)
        if name == "u1_chunk_text_udtf":
            why = frames_equal(out, expected_chunks())
            return Outcome(why is None, why or "pure-Python chunks equal")
        if name in self._repointed:
            raise KeyError(f"no check for raw operator output {name}")
        why = frames_equal(out, self._oracle(self._oracles[name]))
        return Outcome(why is None, why or "oracle exact")


# g5_kcore's graph: parts bought in one order, as g5_gate's oracle has it
COPART_EDGES = """
    SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS x,
           GREATEST(a.l_partkey, b.l_partkey) AS y
    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
"""


def check_kcore(out: pd.DataFrame, edges: pd.DataFrame) -> Outcome:
    """``(node, in_core)`` against a pure-Python peel of the same graph:
    drop nodes with fewer than k live neighbours until none is left."""
    from sparkswift.suite_relational import _G5_K as k

    adj: dict[int, set[int]] = {}
    for x, y in zip(edges["x"], edges["y"]):
        adj.setdefault(int(x), set()).add(int(y))
        adj.setdefault(int(y), set()).add(int(x))
    deg = {n: len(nb) for n, nb in adj.items()}
    alive = set(adj)
    todo = [n for n, d in deg.items() if d < k]
    while todo:
        n = todo.pop()
        if n not in alive:
            continue
        alive.discard(n)
        for m in adj[n]:
            if m in alive:
                deg[m] -= 1
                if deg[m] == k - 1:
                    todo.append(m)
    want = {n: int(n in alive) for n in adj}
    got = {int(n): int(c) for n, c in zip(out["node"], out["in_core"])}
    ok = got == want and len(out) == len(want)
    return Outcome(ok, f"k-core {sum(got.values())} of {len(got)} nodes vs {len(alive)} of {len(want)}")


def check_neardup(spark, out: pd.DataFrame) -> Outcome:
    """The streamed survivors' signature keys, each once, against the
    batch twin over the same documents (st10_gate's comparison)."""
    from sparkswift.sources import load_table
    from sparkswift.streaming.ops import stream_neardup

    docs = load_table(spark, DATA, "documents")
    batch = stream_neardup(docs, "text", k=3, num_hashes=8).select("sig_key").distinct()
    want = {r[0] for r in batch.collect()}
    got = set(out["sig_key"])
    ok = got == want and len(out) == len(want)
    return Outcome(ok, f"{len(out)} rows, {len(got)} keys vs batch twin {len(want)}")


# ---- operations that are not registry queries ------------------------
CHUNK_SIZE, CHUNK_STRIDE = 32, 24


def u1_chunk_text_udtf(spark, sf_dir: str):
    """``operators.udtf_fns``' table function in a LATERAL join over
    the documents: every 32-word window, 24 words apart."""
    from sparkswift.operators import udtf_fns
    from sparkswift.sources import load_table

    udtf_fns.register_udtfs(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("perfbench_documents")
    return spark.sql(
        "SELECT d.doc_id, c.* FROM perfbench_documents d,"
        f" LATERAL chunk_text(d.text, {CHUNK_SIZE}, {CHUNK_STRIDE}) c"
    )


EXTRA_OPS = {"u1_chunk_text_udtf": u1_chunk_text_udtf}


def expected_chunks() -> pd.DataFrame:
    """Windows start every stride words until one reaches the last word."""
    docs = pd.read_parquet(os.path.join(DATA, "documents.parquet"))
    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        words = text.split() if text else []
        start = 0
        while words:
            chunk = words[start : start + CHUNK_SIZE]
            rows.append((int(doc_id), start // CHUNK_STRIDE, " ".join(chunk), len(chunk)))
            if start + CHUNK_SIZE >= len(words):
                break
            start += CHUNK_STRIDE
    return pd.DataFrame(rows, columns=["doc_id", "chunk_id", "chunk_text", "n_chunk_tokens"])


@functools.cache
def exact_top5() -> frozenset[tuple[int, int]]:
    """``similarity.cosine_topk(emb, emb[label == 0], k=5)`` in numpy:
    the same integer micro-unit cosine (Spark's HALF_UP rounding), self
    excluded, ties broken by corpus id."""
    emb = pd.read_parquet(os.path.join(DATA, "embeddings.parquet"))
    v = np.stack(emb["embedding"].to_numpy()).astype(np.float64) * QUANT
    q = (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(np.int64)
    n = np.sqrt((q * q).sum(axis=1).astype(np.float64))
    ids = emb["vec_id"].to_numpy()
    out = set()
    for i in np.flatnonzero(emb["label"].to_numpy() == 0):
        cos = (q @ q[i]).astype(np.float64) / (n[i] * n)
        order = np.lexsort((ids, -cos))
        top = [j for j in order if ids[j] != ids[i]][:5]
        out.update((int(ids[i]), int(ids[j])) for j in top)
    return frozenset(out)


QUANT = 1_000_000  # similarity.QUANT


def ann_recall(out: pd.DataFrame) -> float:
    """|approx ∩ exact| / |exact| over (query_id, corpus_id) pairs."""
    want = exact_top5()
    got = set(zip(out["query_id"], out["corpus_id"]))
    return len(got & want) / len(want)


# ---------------------------------------------------------------------
# apply: the reference's surface through swift(df)
# ---------------------------------------------------------------------
APPLY_ROWS = 100_000
APPLY_GROUPS = 100
T0 = pd.Timestamp("2024-01-01")


def apply_frame(seed: int) -> pd.DataFrame:
    """FIXTURES.md F1-F5 shapes in one frame: id, g, x, y, letter, ts."""
    rng = np.random.default_rng(seed)
    n = APPLY_ROWS
    return pd.DataFrame({
        "id": np.arange(n, dtype=np.int64),
        "g": rng.integers(0, APPLY_GROUPS, n, dtype=np.int64),
        "x": rng.standard_normal(n),
        "y": rng.uniform(0.0, 1.0, n),
        "letter": rng.choice(list("ABCDE"), n),
        "ts": T0 + pd.to_timedelta(np.arange(n) * 7 + rng.integers(0, 7, n), unit="s"),
    })


# UDF bodies. _branchy, _pick and _cell cannot become Column expressions
# (a branch on a value, a per-row lookup, round()), so the chooser sends
# them down the Python route; callables given to groupby, rolling and
# resample always take it. Python workers import them from this module
# (the checkout is on their PYTHONPATH).
def _branchy(v):
    return v * v if v > 0 else -v


def _pick(r):
    return r["x"] if r["letter"] == "A" else r["y"]


def _cell(v):
    return round(v, 3) if v > 0 else 0.0


def _top5(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.nlargest(5, "x")[["id", "x"]]


def _spread(s):
    return float(s.max() - s.min())


def _bucket_max(pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"xmax": [pdf["x"].max()], "n": [len(pdf)]})


def _apply_ops(df) -> dict[str, Callable]:
    from sparkswift import swift

    num = df.select("id", "x", "y")
    ts = df.select("id", "ts", "x")
    ent = df.select("id", "ts", "x", "g")
    return {
        # O1: vectorizable -> native Column; branchy -> Arrow UDF
        "o1_apply_native": lambda: swift(df).apply(lambda v: v * 2.0 + 1.0, col="x"),
        "o1_apply_udf": lambda: swift(df).apply(_branchy, col="x"),
        # O2: axis=1, vectorized batches vs per-row
        "o2_rows_native": lambda: swift(num).apply(lambda r: r["x"] * r["y"], axis=1),
        "o2_rows_udf": lambda: swift(df.select("id", "x", "y", "letter")).apply(_pick, axis=1),
        # O3: applymap, native vs per-cell UDF
        "o3_applymap_native": lambda: swift(num).applymap(lambda v: v * 10.0),
        "o3_applymap_udf": lambda: swift(num.select("x", "y")).applymap(_cell),
        # O4: groupby.apply, top-5 rows per group (source of recall@5)
        "o4_groupby_top5": lambda: swift(df.select("g", "id", "x")).groupby("g").apply(
            _top5, schema="g long, id long, x double"
        ),
        # O5: rolling per entity, native window vs pandas UDF
        "o5_rolling_native": lambda: swift(ent)
        .rolling(5, on="x", partition_by=["g"]).apply("mean", order_by="id"),
        "o5_rolling_udf": lambda: swift(ent)
        .rolling(5, on="x", partition_by=["g"]).apply(_spread, order_by="id"),
        # O6: resample, native agg vs per-bucket UDF
        "o6_resample_agg": lambda: swift(ts).resample("1 hour", on="ts").agg(
            {"n": ("x", "count"), "sx": ("x", "max")}
        ),
        "o6_resample_apply": lambda: swift(ts).resample("1 hour", on="ts").apply(
            _bucket_max, schema="bucket_ts timestamp, xmax double, n long"
        ),
    }


def _apply_expected(pdf: pd.DataFrame) -> dict[str, Callable[[], pd.DataFrame]]:
    """pandas on the same frame: the reference's semantics."""
    num = pdf[["id", "x", "y"]]

    def rolling(fn) -> pd.DataFrame:
        s = pdf.sort_values("id").groupby("g")["x"].rolling(5, min_periods=5)
        v = s.mean() if fn == "mean" else s.max() - s.min()  # == _spread, exactly
        out = pdf[["id", "ts", "x", "g"]].copy()
        out[f"x_roll_{'mean' if fn == 'mean' else 'udf'}"] = v.reset_index(level=0, drop=True)
        return out

    def resample() -> pd.DataFrame:
        r = pdf.set_index("ts")["x"].resample("1h")
        out = pd.DataFrame({"n": r.count(), "sx": r.max()})
        out = out[out["n"] > 0]
        return out.rename_axis("bucket_ts").reset_index()

    def resample_apply() -> pd.DataFrame:
        r = resample().rename(columns={"sx": "xmax"})
        return r[["bucket_ts", "xmax", "n"]]

    return {
        "o1_apply_native": lambda: pdf.assign(x=pdf["x"] * 2.0 + 1.0),
        "o1_apply_udf": lambda: pdf.assign(x=np.where(pdf["x"] > 0, pdf["x"] * pdf["x"], -pdf["x"])),
        "o2_rows_native": lambda: num.assign(result=num["x"] * num["y"]),
        "o2_rows_udf": lambda: pdf[["id", "x", "y", "letter"]].assign(
            result=np.where(pdf["letter"] == "A", pdf["x"], pdf["y"])
        ),
        "o3_applymap_native": lambda: num.assign(
            id=num["id"] * 10.0, x=num["x"] * 10.0, y=num["y"] * 10.0
        ),
        "o3_applymap_udf": lambda: num[["x", "y"]].apply(lambda s: s.apply(_cell)),
        "o4_groupby_top5": lambda: pdf.sort_values("x", ascending=False)
        .groupby("g").head(5)[["g", "id", "x"]],
        "o5_rolling_native": lambda: rolling("mean"),
        "o5_rolling_udf": lambda: rolling("udf"),
        "o6_resample_agg": resample,
        "o6_resample_apply": resample_apply,
    }


APPLY = [
    "o1_apply_native", "o1_apply_udf", "o2_rows_native", "o2_rows_udf",
    "o3_applymap_native", "o3_applymap_udf", "o4_groupby_top5",
    "o5_rolling_native", "o5_rolling_udf", "o6_resample_agg", "o6_resample_apply",
]


class ApplyWorkload(Workload):
    def __init__(self, seed: int) -> None:
        super().__init__("apply", list(APPLY))
        self.seed = seed
        self.pdf: pd.DataFrame | None = None

    def prepare(self, spark, work: str) -> None:
        self.pdf = apply_frame(self.seed)
        path = os.path.join(work, f"apply_{self.seed}.parquet")
        # UTC-aware on disk so Spark scans TIMESTAMP, not TIMESTAMP_NTZ;
        # the session is UTC, so results come back as these naive values
        self.pdf.assign(ts=self.pdf["ts"].dt.tz_localize("UTC")).to_parquet(
            path, index=False, coerce_timestamps="us"
        )
        df = spark.read.parquet(path)
        ops = _apply_ops(df)
        self.ops = {n: (lambda s, f=ops[n]: f()) for n in self.order}

    def check(self, spark, name: str, out: pd.DataFrame) -> Outcome:
        want = _apply_expected(self.pdf)[name]()
        if name == "o4_groupby_top5":
            got = set(out["id"])
            exp = set(want["id"])
            r = len(got & exp) / len(exp)
            return Outcome(r == 1.0 and len(got) == len(exp), f"recall@5 {r:.4f}", recall=r)
        # floats: native window sums reassociate (the rolling mean of
        # five values near zero differs from pandas' in the 11th digit)
        why = frames_equal(out, want.reset_index(drop=True), rtol=1e-9, atol=1e-12)
        return Outcome(why is None, why or "pandas equal")


def make(name: str, seed: int, queries: str | None = None) -> Workload:
    if name == "apply":
        if queries:
            raise ValueError("--queries takes registry names: use floor")
        return ApplyWorkload(seed)
    if queries:
        return RegistryWorkload(name, queries.split(","), seed, [])
    return RegistryWorkload(name, FLOOR, seed, PIPELINE)
