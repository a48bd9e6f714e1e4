"""Task widths: the one place sparkswift decides how many tasks a
piece of work gets.

The problem (guide §2.3): single-file fixtures scan as ONE partition
and projections / mapInPandas preserve partitioning, so a heavy
per-row chain runs on one core of a 32-core host unless spread. The
counter-problem (measured this round): EVERY task costs ~10-12 ms of
serialized scheduling + Python-runner handshake in local mode, so
spreading a few-hundred-row frame to ``defaultParallelism`` buys
nothing and pays a fixed ~0.4 s per 32-task wave — multiplied by the
union fan-outs (st38's four-format ingest ran 128 tasks for ~1.7 k
rows).

Every width therefore follows the INPUT SIZE, not the core count
(guide §2: derive partitioning from data volume, never a constant
tuned for either local mode or the cluster). Each policy is one call
of :func:`task_width`, ``clamp(ceil(size / budget), floor, cap)``:

    policy          size       budget               floor  cap   unknown size
    spread          est bytes  SPREAD_TASK_BYTES    2      dP    dP
    spread_light    est bytes  LIGHT_TASK_BYTES     1      dP    dP
    listing_width   est bytes  LISTING_TASK_BYTES   1      dP    dP
    chain_rounds    est bytes  CHAIN_ROUND_BYTES    2      64    8
    loop_width      row count  LOOP_ROWS_PER_TASK   2      dP    -

``dP`` is ``defaultParallelism``; ``est bytes`` is the optimizer's
size estimate. Any real corpus estimates in the GBs and pins every
width at its cap, so cluster plans are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Per-task input budget for per-row-HEAVY chains (regex/shingle/
# decode/all-pairs scoring): every fixture-scale chain stays at full
# width — documents-scale frames estimate ~100 KB+ — while
# micro-batch slices (~7 KB) drop to 2 tasks.
SPREAD_TASK_BYTES = 4096

# Per-task input budget for chains whose per-row work is CHEAP
# relative to bytes (native expressions, candidate-bounded joins,
# vectorized BLAS scans, header stubs): a fixture-scale frame then
# stays in its scan partitioning (width 1 → no exchange at all), a
# genuinely big single-file input still widens, and a real corpus scan
# is already wide so the call no-ops — same cluster plan as the heavy
# tier. Measured (r16 cold, sf0.1): forcing such chains to full width
# cost 0.3–2.3 s/query in exchange + task overhead with nothing to
# parallelize (e16 9.6→7.1 s, mm32 6.7→3.7 s, d16 5.2→3.9 s, st34
# 5.0→4.3 s, d20 3.3→2.9 s), while per-row-HEAVY chains lose multiples
# of that without full width (p20 3.0→7.9 s, d3 2.6→6.5 s, e1
# 1.4→3.6 s off). The caller knows the downstream cost; the two tiers
# encode it.
LIGHT_TASK_BYTES = 32 << 20

# Per-task budget of a ranged-census pass over a file listing: 16 MB
# of estimate ≈ 64 MB of file bytes (the estimate prunes the unread
# content column).
LISTING_TASK_BYTES = 16 << 20

# Input bytes per sequential carry-chain round.
CHAIN_ROUND_BYTES = 256 << 20

# Rows per task of an iterative-loop frame: several ms of join+agg
# work per task (the r16 warm-median sweep: 100k beat 250k and full
# width on g1/g6, ~flat on g2).
LOOP_ROWS_PER_TASK = 100_000


def task_width(
    size: int | None, budget: int, floor: int, cap: int, fallback: int | None = None
) -> int:
    """``ceil(size / budget)`` clamped to ``[floor, cap]``; ``fallback``
    (default ``cap``) when the size is unknown."""
    if size is None:
        return cap if fallback is None else fallback
    return max(floor, min(cap, -(-size // budget)))


def _size_estimate(df: DataFrame) -> int | None:
    """The optimizer's size estimate of ``df`` in bytes, or None when
    the plan has none."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def _parallelism(df: DataFrame) -> int:
    return df.sparkSession.sparkContext.defaultParallelism


def spread_width(df: DataFrame, light: bool = False) -> int:
    """Width :func:`spread` (or, with ``light``, :func:`spread_light`)
    gives ``df``. The heavy tier's floor of 2 always exercises
    distribution."""
    budget, floor = (LIGHT_TASK_BYTES, 1) if light else (SPREAD_TASK_BYTES, 2)
    return task_width(_size_estimate(df), budget, floor, _parallelism(df))


def spread(df: DataFrame, light: bool = False) -> DataFrame:
    """Spread a narrow input before a per-row-heavy chain: the
    single-file fixtures scan as ONE partition (one row group → one
    task), so token explodes, regex-arithmetic chains and synth +
    decode stages otherwise run on a single core of a 32-core host
    (measured: t1 1.6 s, t15 1.0 s, p20 3.9 s single-task jobs; t26's
    sibling pattern spent 6 s single-core). No-op for streaming inputs
    (micro-batch parallelism comes from the source; ``.rdd`` is
    illegal on a streaming frame) and when the input already has at
    least the adaptive width — always true at real scale, so cluster
    plans are unchanged. Values never depend on the layout."""
    if df.isStreaming:
        return df
    w = spread_width(df, light)
    if w <= 1 or df.rdd.getNumPartitions() >= w:
        return df
    return df.repartition(w)


def spread_light(df: DataFrame) -> DataFrame:
    """The cheap-chain tier: see ``LIGHT_TASK_BYTES``. Floor 1 — a
    fixture-scale frame is NOT exchanged at all."""
    return spread(df, light=True)


def listing_width(listing: DataFrame) -> int:
    """Task width of a ranged-census pass over a file LISTING (guide
    §2/§6): Spark's binaryFile source packs the listing by openCost
    into ~dozens of splits even for a few hundred tiny fixture files,
    and every split pays the ~10-12 ms serialized task floor while the
    census reads only headers (~0.2% of bytes). The listing's size
    estimate is proportional to total file bytes."""
    return task_width(
        _size_estimate(listing), LISTING_TASK_BYTES, 1, _parallelism(listing)
    )


def chain_rounds(df: DataFrame) -> int:
    """Carry-chain round count (``n_buckets=None`` in the rolling
    chains). Rounds are SEQUENTIAL — each is a full job barrier — so
    fewer is strictly faster; the only reason to add rounds is
    bounding one key's slice to task memory at scale. Floored at 2 so
    the continued-carry path is always exercised (the
    bucketing-invariance law makes any count bit-identical —
    pytest-pinned)."""
    return task_width(_size_estimate(df), CHAIN_ROUND_BYTES, 2, 64, fallback=8)


def loop_width(df: DataFrame, n_rows: int) -> int:
    """Width of an iterative-loop frame of KNOWN row count ``n_rows``.
    Optimizer size ESTIMATES are useless here — a join output
    estimates in the TBs for sub-million-row frames. Every loop job
    pays the ~10-12 ms/task scheduling floor PER ROUND, so a
    fixture-scale edge frame at defaultParallelism burns ~0.35 s of
    pure task overhead per job × 2-3 jobs × rounds with nothing to
    parallelize (PERF r15: g6/g5/g2 ran up to 30% FASTER on 8 cores
    than 32 at sf0.1). All loop operators using this are
    integer-exact or invariant-gated (pagerank's mass/zero laws hold
    under any summation order), so width never changes a declared
    result."""
    return task_width(n_rows, LOOP_ROWS_PER_TASK, 2, _parallelism(df))


def prepart(df: DataFrame, *keys: str, n_rows: int | None = None) -> DataFrame:
    """Hash-repartition on ``keys`` ONCE, before a grouped Arrow UDF or
    an iterative loop that groups / joins on them. The following
    ``groupBy(keys)`` or join reuses the partitioning (no second
    exchange, none per loop round — guide §2.4), and because the
    partition count is explicit AQE cannot coalesce a small
    post-shuffle stage into one task and serialize every per-group
    kernel on one core (the o9b lesson, NOTES r14: a bare grouped UDF
    fed by a small shuffle ran 1500 groups on a single task; e6's ADC
    reduce ran 3.5 s as one task over ~1000 query groups). Width is
    ``defaultParallelism``, or :func:`loop_width` when the caller
    passes the frame's row count."""
    n = _parallelism(df) if n_rows is None else loop_width(df, n_rows)
    return df.repartition(n, *[F.col(k) for k in keys])
