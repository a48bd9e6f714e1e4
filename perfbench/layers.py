"""Per-layer metrics of a traced run, from the per-query rows of its
measured pass (every operation of the workload once)."""

from __future__ import annotations

OPERATORS = (
    "apply", "dedup", "events", "graph", "groupby", "joins", "layout",
    "multimodal", "packing", "pandas_api", "pca", "profile", "resample",
    "rolling", "sampling", "similarity", "spread", "text", "udtf_fns",
)
SOURCES = ("loaders", "media_headers", "store", "writers")

# name -> (unit, key in the per-query stats row)
_SUMS = {
    "spark.jobs": ("count", "jobs"),
    "spark.stages": ("count", "stages"),
    "spark.tasks": ("count", "tasks"),
    "spark.job_busy_s": ("s", "job_busy_s"),
    "driver.idle_s": ("s", "idle_s"),
    "spark.task_run_s": ("s", "task_run_s"),
    "spark.task_cpu_s": ("s", "task_cpu_s"),
    "spark.gc_s": ("s", "gc_s"),
    "shuffle.write_bytes": ("B", "shuffle_write_bytes"),
    "shuffle.read_bytes": ("B", "shuffle_read_bytes"),
    "shuffle.spill_bytes": ("B", "spill_bytes"),
    "shuffle.fetch_wait_s": ("s", "fetch_wait_s"),
    "python.bytes_sent": ("B", "py_bytes_sent"),
    "python.bytes_received": ("B", "py_bytes_received"),
    "python.rows_out": ("count", "py_rows_out"),
    "python.udf_s": ("s", "py_udf_s"),
    "lineage.cuts": ("count", "lineage_cuts"),
    "lineage.cut_bytes": ("B", "lineage_cut_bytes"),
    "sources.bytes_written": ("B", "output_bytes"),
    "suite.build_s": ("s", "build_s"),
    "suite.build_jobs": ("count", "build_jobs"),
}
_STREAM = {
    "stream.batches": ("count", "batches"),
    "stream.trigger_s": ("s", "trigger_s"),
    "stream.commit_s": ("s", "commit_s"),
    "stream.add_batch_s": ("s", "add_batch_s"),
    "stream.state_rows": ("count", "state_rows"),
    "stream.state_bytes": ("B", "state_bytes"),
}
APPLY_FNS = ("apply_series", "apply_rows", "applymap")


def _is_fixture(layer: str, fn: str) -> bool:
    return (layer == "operators.multimodal" and fn.startswith(("synth_", "encode_"))) or (
        layer == "scratch" and fn == "mkscratch"
    )


def one_pass(p: dict, cpus: int) -> dict[str, tuple[float, str]]:
    rows = list(p["queries"].values())
    m: dict[str, tuple[float, str]] = {}
    for name, (unit, key) in _SUMS.items():
        m[name] = (sum(r[key] for r in rows), unit)
    m["exec.s"] = (sum(r["wall_s"] - r["build_s"] for r in rows), "s")
    m["exec.jobs"] = (m["spark.jobs"][0] - m["suite.build_jobs"][0], "count")
    busy = m["spark.job_busy_s"][0]
    m["spark.slot_util"] = (m["spark.task_run_s"][0] / (busy * cpus) if busy else 0.0, "frac")
    for name, (unit, key) in _STREAM.items():
        m[name] = (sum(r["stream"][key] for r in rows), unit)

    spans: dict[str, dict] = {}
    for r in rows:
        for key, s in r["spans"].items():
            acc = spans.setdefault(
                key, {"calls": 0, "self_s": 0.0, "jobs": 0, "jobs_in": 0, "native": 0}
            )
            for k in acc:
                acc[k] += s.get(k, 0)

    def layer_sum(layer: str, field: str) -> float:
        # keys are <layer>.<fn> or, for methods, <layer>.<Class>.<method>
        return sum(s[field] for k, s in spans.items() if k.startswith(layer + "."))

    for mod in OPERATORS:
        layer = f"operators.{mod}"
        m[f"{layer}.self_s"] = (layer_sum(layer, "self_s"), "s")
        m[f"{layer}.calls"] = (layer_sum(layer, "calls"), "count")
        m[f"{layer}.jobs"] = (layer_sum(layer, "jobs"), "count")
    for mod in SOURCES:
        layer = f"sources.{mod}"
        m[f"{layer}.self_s"] = (layer_sum(layer, "self_s"), "s")
        m[f"{layer}.calls"] = (layer_sum(layer, "calls"), "count")
    m["plans.inference.self_s"] = (layer_sum("plans.inference", "self_s"), "s")

    apply = {fn: spans.get(f"operators.apply.{fn}", {}) for fn in APPLY_FNS}
    m["apply.calls"] = (sum(s.get("calls", 0) for s in apply.values()), "count")
    attempts = sum(apply[fn].get("calls", 0) for fn in ("apply_series", "applymap"))
    native = sum(apply[fn].get("native", 0) for fn in ("apply_series", "applymap"))
    m["apply.native_frac"] = (native / attempts if attempts else 0.0, "frac")
    # jobs the chooser fires while building (sample checks, inference)
    m["apply.sample_jobs"] = (sum(s.get("jobs_in", 0) for s in apply.values()), "count")

    fx = [s for k, s in spans.items() if _is_fixture(*k.rsplit(".", 1))]
    m["fixtures.synth_s"] = (sum(s["self_s"] for s in fx), "s")
    m["fixtures.calls"] = (sum(s["calls"] for s in fx), "count")
    m["scratch.dirs"] = (spans.get("scratch.mkscratch", {}).get("calls", 0), "count")
    return m

