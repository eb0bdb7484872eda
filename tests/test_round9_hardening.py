"""Round-9 hardening: transformWithState-shaped wrapper parity and packed
simhash representation invariants."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def test_transform_with_state_parity_with_stateful_user_totals(spark):
    """r8 verdict task 7: the SAME StatefulProcessor-shaped class, run
    through the emulated transformWithState backend, must reproduce
    streaming_stateful_user_totals' per-user event counts exactly
    (count is order/batch-split independent, so equality is exact)."""
    import pandas as pd

    from streaming_data_pipeline_spark.plans.streaming_queries import (
        _drain,
        streaming_stateful_user_totals,
    )
    from streaming_data_pipeline_spark.streaming.sources import (
        events_fixture_stream,
    )
    from streaming_data_pipeline_spark.streaming.stateful import (
        transform_with_state_in_pandas,
    )

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
            n_types = sum(1 for _ in self._types.keys())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [total],
                    "n_types": [n_types],
                }
            )

        def close(self) -> None:
            pass

    stream = events_fixture_stream(spark, SF_DIR)
    out = transform_with_state_in_pandas(
        stream,
        ["user_id"],
        UserCount(),
        "user_id bigint, n_events bigint, n_types bigint",
        output_mode="Update",
        backend="emulated",
    )
    drained = _drain(out, spark, "update")
    from pyspark.sql import functions as F

    got = {
        r["user_id"]: (r["n_events"], r["n_types"])
        for r in drained.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("n_types").alias("n_types"))
        .collect()
    }
    want = {
        r["user_id"]: r["event_count"]
        for r in streaming_stateful_user_totals(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    assert {u: v[0] for u, v in got.items()} == want
    # MapState sanity: per-user distinct event types must never exceed
    # the corpus-wide distinct type count and must be >= 1
    from streaming_data_pipeline_spark.sources.batch import load_table

    n_types_global = (
        load_table(spark, SF_DIR, "events").select("event_type").distinct().count()
    )
    assert all(1 <= v[1] <= n_types_global for v in got.values())


def test_emulated_map_state_round_trips_across_batches(spark):
    """MapState contents must survive the JSON GroupState round-trip:
    a second micro-batch sees the first batch's entries (same key fed
    in two batches via two files in a drop-dir stream would be the full
    harness; here the state store is driven directly)."""
    from streaming_data_pipeline_spark.streaming.stateful import (
        EmulatedStatefulProcessorHandle,
    )
    import json

    store: dict = {}
    h = EmulatedStatefulProcessorHandle(store)
    m = h.getMapState("types", "event_type string", "n bigint")
    m.updateValue(("click",), (3,))
    m.updateValue(("view",), (1,))
    v = h.getValueState("cnt", "cnt bigint")
    v.update((4,))

    # simulate the micro-batch boundary: JSON round-trip
    store2 = json.loads(json.dumps(store))
    h2 = EmulatedStatefulProcessorHandle(store2)
    m2 = h2.getMapState("types", "event_type string", "n bigint")
    assert m2.getValue(("click",)) == (3,)
    assert sorted(m2.keys()) == [("click",), ("view",)]
    assert dict(m2.iterator()) == {("click",): (3,), ("view",): (1,)}
    v2 = h2.getValueState("cnt", "cnt bigint")
    assert v2.exists() and v2.get() == (4,)
    m2.removeKey(("view",))
    assert not m2.containsKey(("view",))


def test_emulated_list_state_round_trips_across_batches():
    """ListState: append/appendList/put/get/clear survive the JSON
    micro-batch round-trip with tuple values, same as the native API."""
    import json

    from streaming_data_pipeline_spark.streaming.stateful import (
        EmulatedStatefulProcessorHandle,
    )

    store: dict = {}
    h = EmulatedStatefulProcessorHandle(store)
    ls = h.getListState("recent", "ts bigint, v double")
    assert not ls.exists()
    ls.appendValue((1, 0.5))
    ls.appendList([(2, 1.5), (3, 2.5)])
    assert list(ls.get()) == [(1, 0.5), (2, 1.5), (3, 2.5)]

    store2 = json.loads(json.dumps(store))
    ls2 = EmulatedStatefulProcessorHandle(store2).getListState("recent")
    assert ls2.exists()
    assert list(ls2.get()) == [(1, 0.5), (2, 1.5), (3, 2.5)]
    ls2.put([(9, 9.0)])
    assert list(ls2.get()) == [(9, 9.0)]
    ls2.clear()
    assert not ls2.exists() and list(ls2.get()) == []


def test_transform_with_state_guards(spark):
    """Unsupported modes must raise loudly, not silently degrade."""
    from streaming_data_pipeline_spark.streaming.sources import (
        events_fixture_stream,
    )
    from streaming_data_pipeline_spark.streaming.stateful import (
        transform_with_state_in_pandas,
    )

    stream = events_fixture_stream(spark, SF_DIR)
    with pytest.raises(NotImplementedError, match="time_mode"):
        transform_with_state_in_pandas(
            stream, ["user_id"], object(), "user_id bigint",
            time_mode="ProcessingTime", backend="emulated",
        )
    with pytest.raises(ValueError, match="backend"):
        transform_with_state_in_pandas(
            stream, ["user_id"], object(), "user_id bigint", backend="bogus"
        )


def test_simhash_packed_matches_string_rendering(spark):
    """The packed words and the bit-string are the SAME signature:
    re-rendering the packed array through bin()/lpad must equal
    simhash_sig's output for both widths, and the packed Hamming
    (bit_count of xor) must equal the character-level Hamming."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_spark.operators.dedup import (
        simhash_packed,
        simhash_sig,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),
            (3, "totally different words here now"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    for bits in (64, 128):
        packed = {
            r["doc_id"]: r["simhash"]
            for r in simhash_packed(docs, bits=bits).collect()
        }
        strings = {
            r["doc_id"]: r["simhash"]
            for r in simhash_sig(docs, bits=bits).collect()
        }
        for d, words in packed.items():
            rendered = "".join(format(w & ((1 << 64) - 1), "064b") for w in words)
            assert rendered == strings[d], (bits, d)
        # empty doc -> all-zero signature in both renderings
        assert all(w == 0 for w in packed[4])
        assert strings[4] == "0" * bits
        # cross-check Hamming: packed xor+bit_count == char-level count
        for a, b in [(1, 2), (1, 3)]:
            char_ham = sum(
                x != y for x, y in zip(strings[a], strings[b])
            )
            packed_ham = sum(
                bin((wa & ((1 << 64) - 1)) ^ (wb & ((1 << 64) - 1))).count("1")
                for wa, wb in zip(packed[a], packed[b])
            )
            assert char_ham == packed_ham, (bits, a, b)


def test_simhash_width64_chunks_now_allowed(spark):
    """chunks=2/bits=128 (width 64 = one whole packed word per chunk)
    is legal under the packed representation (the old 62-bit conv()
    limit is gone); pigeonhole still caps max_hamming at chunks-1."""
    from streaming_data_pipeline_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w q")],
        "doc_id long, text string",
    )
    rows = simhash_near_dup_pairs(
        docs, chunks=2, max_hamming=1, bits=128
    ).collect()
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in rows} == {(1, 2, 0)}


def test_canon_column_fast_paths_match_cell():
    """The dtype-dispatched column fast paths in conftest.canon must be
    byte-identical to the per-cell reference on an adversarial frame:
    ints, bools, floats (NaN, ±inf, -0.0, integral), datetimes (NaT),
    strings (None), nested arrays, decimals, and a nullable extension
    dtype. The fast path exists because the per-cell form cost ~40 s
    alone on the 2.58M-row pair compare in full sf0.1 sweeps."""
    import decimal

    import numpy as np
    import pandas as pd

    from tests.conftest import _canon_cell, _canon_col, canon

    df = pd.DataFrame(
        {
            "i": np.array([3, -1, 0, 2**62], dtype="int64"),
            "b": np.array([True, False, True, False]),
            "f": np.array([0.1, float("nan"), -0.0, float("inf")]),
            # narrower float widths must NOT take the float64 fast path:
            # tolist() widens (repr of the widened double) while
            # _canon_cell str()s the numpy scalar (ADVICE r9)
            "f32": np.array([0.1, float("nan"), -0.0, 2.5], dtype="float32"),
            "f16": np.array([0.1, float("nan"), 1.0, -2.0], dtype="float16"),
            "t": pd.to_datetime(
                ["2026-01-02 03:04:05.123456", None, "1999-12-31", "2026-08-16"],
                format="mixed",
            ),
            "s": pd.Series(["x", None, "", "ünïcode"], dtype=object),
            "a": pd.Series(
                [np.array([1.5, 2.0]), [0.5], None, [float("nan")]], dtype=object
            ),
            "d": pd.Series(
                [decimal.Decimal("1.20"), None, decimal.Decimal("-3"), decimal.Decimal("0.0001")],
                dtype=object,
            ),
        }
    )
    for c in df.columns:
        assert _canon_col(df[c]) == [_canon_cell(v) for v in df[c]], c
    # extension dtype goes through the per-cell fallback ('<null>', not '<NA>')
    ext = pd.Series([1, pd.NA, 3], dtype="Int64")
    assert _canon_col(ext) == ["1", "<null>", "3"]
    # whole-frame shape: sorted tuples, columns sorted by name
    got = canon(df)
    ref = sorted(
        tuple(_canon_cell(v) for v in row)
        for row in df.reindex(sorted(df.columns), axis=1).itertuples(
            index=False, name=None
        )
    )
    assert got == ref
    # degenerate shapes
    assert canon(pd.DataFrame({"x": []})) == []
    assert canon(pd.DataFrame(index=range(2))) == [(), ()]
