"""Round-10 hardening: native transformWithState dispatch/parity
coverage (r9 verdict task 6) and the emulated backend's native-matching
state-retention semantics (ADVICE r9)."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_DIR


def _user_count_processor():
    """The same StatefulProcessor shape the r9 parity test runs — one
    ValueState (running count) + one MapState (per-type counts)."""
    import pandas as pd

    try:
        from pyspark.sql.streaming import StatefulProcessor
    except ImportError:  # pragma: no cover — older pyspark
        StatefulProcessor = object

    class UserCount(StatefulProcessor):
        def init(self, handle) -> None:
            self._cnt = handle.getValueState("cnt", "cnt bigint")
            self._types = handle.getMapState(
                "types", "event_type string", "n bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            total = self._cnt.get()[0] if self._cnt.exists() else 0
            for pdf in rows:
                total += len(pdf)
                for et, c in pdf.groupby("event_type").size().items():
                    cur = (
                        self._types.getValue((et,))[0]
                        if self._types.containsKey((et,))
                        else 0
                    )
                    self._types.updateValue((et,), (cur + int(c),))
            self._cnt.update((total,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [total],
                    "n_types": [sum(1 for _ in self._types.keys())],
                }
            )

        def close(self) -> None:
            pass

    return UserCount()


def test_prune_registration_residue_unit():
    """Registration residue (setdefault-[] map/list slots) and cleared
    state must be dropped from the persisted store; value states and
    non-empty entries must survive — including a legitimately-updated
    empty-tuple value state."""
    from streaming_data_pipeline_spark.streaming.stateful import (
        EmulatedStatefulProcessorHandle,
        _prune_registration_residue,
    )

    store: dict = {}
    h = EmulatedStatefulProcessorHandle(store)
    h.getMapState("never_written")  # registration only
    h.getListState("cleared_later").appendValue((1,))
    h.getListState("cleared_later").clear()
    h.getMapState("kept").updateValue(("k",), (2,))
    h.getValueState("v_empty").update(())
    h.getValueState("v_set").update((7,))
    _prune_registration_residue(store)
    assert set(store) == {"m:kept", "v:v_empty", "v:v_set"}
    # idempotent + empty-store case
    _prune_registration_residue(store)
    assert set(store) == {"m:kept", "v:v_empty", "v:v_set"}
    empty: dict = {}
    EmulatedStatefulProcessorHandle(empty).getMapState("x")
    _prune_registration_residue(empty)
    assert empty == {}


def test_emulated_tws_drops_cleared_state_across_restart(spark, tmp_path):
    """End-to-end retention semantics: a key whose processor cleared all
    its state in batch 1 must arrive at batch 2 with NO persisted state
    (exists() False — native-runtime behavior), while a key that kept
    state must still see it. Two availableNow runs over one checkpoint
    = a real micro-batch boundary through the state store."""
    import pandas as pd

    from streaming_data_pipeline_spark.streaming.stateful import (
        transform_with_state_in_pandas,
    )

    try:
        from pyspark.sql.streaming import StatefulProcessor
    except ImportError:  # pragma: no cover — older pyspark
        StatefulProcessor = object

    class ClearOrKeep(StatefulProcessor):
        """user 'keep' stores a map entry; user 'drop' stores then
        clears everything. Emits whether state existed on entry."""

        def init(self, handle) -> None:
            self._m = handle.getMapState("m", "k string", "n bigint")
            self._l = handle.getListState("l", "v bigint")

        def handleInputRows(self, key, rows, timerValues):
            had = 1 if (self._m.exists() or self._l.exists()) else 0
            n = sum(len(pdf) for pdf in rows)
            self._m.updateValue(("seen",), (n,))
            self._l.appendValue((n,))
            if key[0] == "drop":
                self._m.clear()
                self._l.clear()
            yield pd.DataFrame({"user": [key[0]], "had_state": [had]})

        def close(self) -> None:
            pass

    indir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(indir)

    def run_batch(fname: str, lines: list[str]) -> pd.DataFrame:
        with open(os.path.join(indir, fname), "w") as f:
            f.write("\n".join(lines) + "\n")
        stream = (
            spark.readStream.format("json")
            .schema("user string, v bigint")
            .load(indir)
        )
        out = transform_with_state_in_pandas(
            stream,
            ["user"],
            ClearOrKeep(),
            "user string, had_state bigint",
            output_mode="Update",
            backend="emulated",
        )
        # foreachBatch sink: the memory sink refuses checkpoint
        # recovery, and the restart IS the point of this test
        got: list[pd.DataFrame] = []
        q = (
            out.writeStream.foreachBatch(
                lambda df, _bid: got.append(df.toPandas())
            )
            .outputMode("update").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return pd.concat(got, ignore_index=True)

    rows = ['{"user": "keep", "v": 1}', '{"user": "drop", "v": 2}']
    b1 = run_batch("b1.json", rows)
    assert dict(zip(b1["user"], b1["had_state"])) == {"keep": 0, "drop": 0}
    b2 = run_batch("b2.json", rows)
    got = dict(zip(b2["user"], b2["had_state"]))
    assert got["keep"] == 1, "kept state must survive the batch boundary"
    assert got["drop"] == 0, (
        "cleared state persisted — registration residue is back (ADVICE r9)"
    )


def test_tws_auto_dispatch_prefers_native(spark, monkeypatch):
    """The backend='auto' dispatch line must route to the REAL Spark 4
    state-v2 operator when the protocol deps exist — covered here by
    monkeypatching tws_available and capturing the GroupedData call, so
    a native-path break (renamed kwarg, wrong mode string) fails in CI
    even without protobuf."""
    from pyspark.sql.group import GroupedData

    from streaming_data_pipeline_spark.streaming import stateful
    from streaming_data_pipeline_spark.streaming.sources import (
        events_fixture_stream,
    )

    calls: list[dict] = []
    sentinel = object()

    def fake_tws(self, **kwargs):
        calls.append(kwargs)
        return sentinel

    monkeypatch.setattr(stateful, "tws_available", lambda: True)
    monkeypatch.setattr(GroupedData, "transformWithStateInPandas", fake_tws)
    proc = _user_count_processor()
    out = stateful.transform_with_state_in_pandas(
        events_fixture_stream(spark, SF_DIR),
        ["user_id"],
        proc,
        "user_id bigint, n_events bigint, n_types bigint",
        output_mode="Update",
        time_mode="None",
        backend="auto",
    )
    assert out is sentinel
    assert len(calls) == 1
    kw = calls[0]
    assert kw["statefulProcessor"] is proc
    assert kw["outputStructType"] == "user_id bigint, n_events bigint, n_types bigint"
    assert kw["outputMode"] == "Update"
    assert kw["timeMode"] == "None"
    # and with the deps absent, auto must fall back to the emulated
    # runtime (a real streaming frame, not the sentinel)
    monkeypatch.setattr(stateful, "tws_available", lambda: False)
    out2 = stateful.transform_with_state_in_pandas(
        events_fixture_stream(spark, SF_DIR),
        ["user_id"],
        _user_count_processor(),
        "user_id bigint, n_events bigint, n_types bigint",
        output_mode="Update",
        backend="auto",
    )
    assert out2 is not sentinel and out2.isStreaming


def _tws_available() -> bool:
    from streaming_data_pipeline_spark.streaming.stateful import tws_available

    return tws_available()


@pytest.mark.skipif(
    not _tws_available(),
    reason="protobuf absent: native transformWithStateInPandas runtime "
    "unavailable in this sandbox (r9 verdict task 6 — runs on a real "
    "cluster install)",
)
def test_tws_native_runtime_matches_emulated(spark):
    """On an environment with the state-v2 protocol deps, the SAME
    StatefulProcessor must produce identical final per-user aggregates
    on the native runtime (RocksDB provider) and the emulated handle."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_spark.plans.streaming_queries import _drain
    from streaming_data_pipeline_spark.streaming.sources import (
        events_fixture_stream,
    )
    from streaming_data_pipeline_spark.streaming.stateful import (
        ROCKSDB_PROVIDER,
        transform_with_state_in_pandas,
    )

    schema = "user_id bigint, n_events bigint, n_types bigint"

    def final(df):
        return {
            r["user_id"]: (r["n_events"], r["n_types"])
            for r in df.groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max("n_types").alias("n_types"),
            )
            .collect()
        }

    emu = final(
        _drain(
            transform_with_state_in_pandas(
                events_fixture_stream(spark, SF_DIR),
                ["user_id"],
                _user_count_processor(),
                schema,
                output_mode="Update",
                backend="emulated",
            ),
            spark,
            "update",
        )
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        nat = final(
            _drain(
                transform_with_state_in_pandas(
                    events_fixture_stream(spark, SF_DIR),
                    ["user_id"],
                    _user_count_processor(),
                    schema,
                    output_mode="Update",
                    backend="native",
                ),
                spark,
                "update",
            )
        )
    finally:
        if prev:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)
    assert nat == emu


def test_cc_propagation_rounds_parameter_escalates_depth():
    """ADVICE r9: _cc_propagation_sql's doubling-round count is now a
    parameter. Prove the escalation contract on a path graph of
    diameter 40 (DuckDB-only, no Spark), and pin the TRUE reach bound
    this test discovered — reach after k rounds is 2^(k-1), NOT 2^k
    (round 1 only reaches direct neighbors because label-of-label is
    still the identity): the default rounds=6 (reach 32 < 40) must keep
    moving in the certificate round — the loud-failure signal the
    sentinel keys on — and rounds=7 (reach 64 >= 40) must converge with
    every node carrying the component minimum."""
    import duckdb

    from streaming_data_pipeline_spark.plans.llm_queries import (
        _cc_propagation_sql,
    )

    con = duckdb.connect()
    n = 41  # path 1-2-...-41: diameter 40, single component, min label 1
    con.execute(
        "CREATE TABLE e_raw AS SELECT i AS src, i + 1 AS dst "
        f"FROM range(1, {n}) t(i)"
    )
    l0 = f"SELECT i AS node, i AS lbl, 0 AS touched FROM range(1, {n + 1}) t(i)"

    def run(rounds: int):
        sql = f"""
WITH edges AS (SELECT src, dst FROM e_raw UNION ALL SELECT dst, src FROM e_raw),
{_cc_propagation_sql(l0, rounds=rounds)}
SELECT CAST(SUM(CASE WHEN nx.lbl <> f.lbl THEN 1 ELSE 0 END) AS BIGINT) AS moved,
       CAST(MIN(nx.lbl) AS BIGINT) AS min_lbl,
       CAST(MAX(nx.lbl) AS BIGINT) AS max_lbl,
       CAST(MAX(nx.node - nx.lbl) AS BIGINT) AS reach
FROM l{rounds + 1} nx JOIN l{rounds} f USING (node)
"""
        return con.execute(sql).fetchone()

    for rounds in (2, 6):
        moved, _, _, reach = run(rounds)
        assert moved > 0, (
            f"rounds={rounds} (reach {2 ** (rounds - 1)} < 40) must keep "
            "moving in the certificate round (the sentinel's trigger) — "
            "silent convergence would mean the escalation contract is broken"
        )
        # the certificate round is round rounds+1, so reach = 2^rounds,
        # saturating at the graph's own diameter
        assert reach == min(2**rounds, n - 1), (rounds, reach)
    moved, min_lbl, max_lbl, _ = run(7)
    assert moved == 0
    assert (min_lbl, max_lbl) == (1, 1), "all nodes must carry the component min"


def test_connected_components_max_iter_exhaustion_is_loud(spark):
    """The Pregel-loop scale path must never return still-moving labels
    silently (the Spark-side analog of the oracle's fixpoint sentinel):
    an insufficient max_iter budget raises, and a sufficient one yields
    exactly the union-find fast path's labels on the same graph."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    n = 32  # path 1-...-32: diameter 31
    edges = spark.range(1, n).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    nodes = spark.range(1, n + 1).select(F.col("id").alias("node"))
    with pytest.raises(RuntimeError, match="max_iter"):
        # unionfind_max_nodes=0 forces the loop path; 1 round cannot
        # cover diameter 31
        connected_components(edges, nodes, max_iter=1, unionfind_max_nodes=0)
    got = {
        (r["node"], r["label"])
        for r in connected_components(
            edges, nodes, unionfind_max_nodes=0
        ).collect()
    }
    want = {
        (r["node"], r["label"])
        for r in connected_components(edges, nodes).collect()  # union-find
    }
    assert got == want
    assert got == {(i, 1) for i in range(1, n + 1)}


@pytest.mark.parametrize(
    "name",
    [
        "top5_latest",               # top-k: tie boundary would flap
        "heavy_hitter_bigrams",      # count top-k with plausible ties
        "approx_topk_mergeable_tokens",  # sketch: merge-order risk
        "hll_mergeable_sketch_union",    # sketch union: merge-order risk
        "kll_quantile_sketch_check",     # quantile sketch: merge-order risk
        "weighted_sample_docs",      # sampling: seed/partition coupling risk
    ],
)
def test_partitioning_invariance(spark, name):
    """Results must not depend on the shuffle partition count — the
    difference between local[32] and 1000 executors. The classic
    flakiness sources are top-k tie boundaries, merge-order-dependent
    sketches, and partition-coupled sampling; a broader 14-query
    offline audit (round 10) found all deterministic across 7/32/64 —
    this pins the riskiest six in CI. Conf-based (shuffle.partitions is
    runtime-settable), so the shared session is untouched afterwards."""
    import __spark_entry__ as entrymod

    from tests.conftest import canon

    q = entrymod.queries()[name]
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        base = canon(q(spark, SF_DIR).toPandas())
        for parts in ("7", "64"):
            spark.conf.set(key, parts)
            got = canon(q(spark, SF_DIR).toPandas())
            assert got == base, (
                f"{name} varies with {key}={parts} — would be "
                "nondeterministic across cluster sizes"
            )
    finally:
        spark.conf.set(key, saved)
