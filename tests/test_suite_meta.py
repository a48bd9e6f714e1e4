"""Suite-registry invariants — structural guards that the driver
contract stays whole as queries are added."""


from sparkswift import suite


def _registry():
    suite.queries()  # force sub-suite imports + window validation
    return suite._REGISTRY


def test_every_registered_query_has_an_oracle():
    """VERDICT r12 #1: since the re-point, EVERY registry entry must
    carry a SQL oracle (the driver's hard channel can then never
    sample an unverifiable row). Raw rows-only outputs live in
    suite.raw_queries() instead — each must correspond to a
    re-pointed registry name whose frame certifies it."""
    reg = _registry()
    rows_only = {n for n, (_f, o) in reg.items() if o is None}
    assert not rows_only, f"rows-only registry entries: {sorted(rows_only)}"
    raw = suite.raw_queries()
    assert set(raw) == set(suite._REPOINT)
    for n in raw:
        assert n in reg and reg[n][1] is not None, n
        # the registry fn is the former gate, not the raw output
        assert reg[n][0] is not raw[n], n


def test_gate_oracle_placeholders_all_resolved():
    """suite_gates wraps other queries' oracles at import time — an
    unresolved __X__ placeholder would reach DuckDB as a syntax
    error."""
    reg = _registry()
    bad = {
        n: o[:120]
        for n, (_f, o) in reg.items()
        if o is not None and "__" in o and "_ORACLE__" in o
    }
    assert not bad, bad


def test_window_is_exactly_fifty_registered_names():
    names = list(suite.queries())
    assert len(names) >= 50
    assert len(set(names[:50])) == 50
    assert set(suite._WINDOW) == set(names[:50])


def test_engine_reads_only_the_deployment_env_settings():
    """Task sizing lives in operators/spread.py as constants, and no
    A/B env gate ships: the only SPARK_GRAFT_* variables the engine
    reads are the deployment settings below. A new one needs two real
    callers that want different values."""
    import pathlib
    import re

    root = pathlib.Path(suite.__file__).parent
    names = {
        m
        for f in root.rglob("*.py")
        for m in re.findall(r"SPARK_GRAFT_(\w+)", f.read_text())
    }
    assert names == {
        "CPUS",
        "DRIVER_MEM",
        "UI",
        "SCRATCH",
        "SHUFFLE_PARTITIONS",
        "ADVISORY_PARTITION",
        "CKPT_CHECKSUM",
    }
