"""Single-source DuckDB oracle SQL fragments shared across plan modules.

The driver compares every Spark query against a DuckDB oracle; several
oracles share verbatim SQL text (the whitespace tokenizer, the
MinHash-LSH banding chain). Keeping one copy per fragment here removes
the wrongness vector the round-6 audit flagged: a semantics fix applied
to one inlined copy and missed in another diverges silently — the two
queries would each stay green against their own (now different) oracles
while no longer computing the same thing.

Spark-side twins of these fragments live in ``functions/text.py``
(tokenizer, the MinHash slot hash) and ``functions/quality_rules.py``
(Gopher rule predicates); each fragment's docstring names its twin so a
change to either side lands in exactly two places, both single-copy.
"""

from __future__ import annotations

# DuckDB twin of functions.text.tokens (whitespace split, empties
# dropped; NULL text = empty document — the canonical rule, see the
# twin's docstring). Referenced by the analytics / curation / llm /
# training plan modules as their local `_TOKS`.
DUCK_TOKS = "list_filter(string_split(COALESCE(text, ''), ' '), x -> x <> '')"


def sql_minhash_sig(k: int = 16) -> str:
    """MinHash signature, mirroring operators/dedup._minhash_signatures:
    x = first-7-hex-chars of md5(token) as BIGINT; slot j is the SQL
    text of functions.text.minhash_slot_sql — the engine's own hash."""
    from streaming_data_pipeline_spark.functions.text import minhash_slot_sql

    x = "CAST('0x' || substring(md5(t), 1, 7) AS BIGINT)"
    elems = ", ".join(
        f"list_min(list_transform(ts, t -> {minhash_slot_sql(j, x)}))"
        for j in range(k)
    )
    return f"[{elems}]"


def sql_minhash_banding_ctes(k: int = 32, bands: int = 8) -> str:
    """The shared ``sigs -> banded -> cand`` CTE chain of every
    MinHash-LSH oracle (near-dup pairs, n-gram Jaccard pairs, estimator
    error): signature over a ``toks(id, ts)`` CTE the caller provides,
    per-band md5 bucket, same-bucket candidate pairs (id_a < id_b).

    Mirrors operators/dedup.minhash_lsh_pairs banding (band index is
    hashed WITH the row values so buckets never collide across bands).
    ``k`` must be divisible by ``bands``; the ``ts`` column is carried
    through ``banded`` so callers may re-join token sets either via
    ``toks`` or ``banded``.
    """
    if k % bands:
        raise ValueError(f"signature length {k} not divisible by {bands} bands")
    rows = k // bands
    sig_cells = " || '|' || ".join(
        f"CAST(sig[b*{rows}+{i}] AS VARCHAR)" for i in range(1, rows + 1)
    )
    return f"""sigs AS (SELECT id, ts, {sql_minhash_sig(k)} AS sig FROM toks),
    banded AS (
      SELECT id, ts,
             md5(CAST(b AS VARCHAR) || '|' || {sig_cells}) AS bucket
      FROM sigs CROSS JOIN (SELECT unnest(range({bands})) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.id < b.id
    )"""


def sql_minhash_pair_oracle(toks_expr: str, threshold: float = 0.8) -> str:
    """Complete MinHash-LSH near-dup pair oracle: ``toks_expr`` is the
    DuckDB expression for a document's (distinct) token/shingle set;
    output is (id_a, id_b, jaccard >= threshold), exact Jaccard
    verified on the candidate pairs. Shared verbatim by
    ``dedup_near_minhash_lsh`` (distinct word tokens) and
    ``dedup_ngram_jaccard`` (word-3-gram shingles) — one copy, so a
    banding or threshold fix cannot half-land.

    Group-level verification (r8 verdict task 6): docs collapse to
    DISTINCT sorted-token-set groups first — exactly the Spark plan's
    shape (operators/dedup.minhash_lsh_pairs) — so the signature,
    banding, candidate join and exact-Jaccard verify all run once per
    GROUP pair, and verified pairs expand to doc pairs by pure row
    generation (unnest of the member-id lists, no list ops). The
    doc-level form verified Jaccard per expanded pair — 2.58M
    list_intersect calls at sf0.1, 165 s of the old 206 s
    cluster-components oracle wall. Semantics are identical: MinHash
    and Jaccard are token-SET functions, so group members band and
    score exactly as their representative does; same-group (non-empty)
    members always share every bucket and have self-Jaccard 1.0; the
    empty token set still hashes to NULL buckets and never pairs."""
    jac = (
        "round(CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)\n"
        "                 / len(list_distinct(list_concat(ta.ts, tb.ts))), 6)"
    )
    return f"""
    WITH dtoks AS (SELECT doc_id AS id, list_sort({toks_expr}) AS ts FROM documents),
    grp AS MATERIALIZED (
      SELECT ts, list_sort(list(id)) AS ids, COUNT(*) AS cnt
      FROM dtoks GROUP BY ts),
    toks AS (SELECT ids[1] AS id, ts FROM grp),
    {sql_minhash_banding_ctes(32, 8)},
    gver AS MATERIALIZED (
      SELECT cand.id_a AS gid_a, cand.id_b AS gid_b,
             {jac} AS jaccard
      FROM cand JOIN toks ta ON cand.id_a = ta.id JOIN toks tb ON cand.id_b = tb.id
      WHERE {jac} >= {threshold}),
    g AS MATERIALIZED (SELECT ids[1] AS gid, ids, cnt, len(ts) AS n_ts FROM grp),
    cross1 AS (
      SELECT v.jaccard, unnest(ga.ids) AS ia, gb.ids AS ids_b
      FROM gver v JOIN g ga ON v.gid_a = ga.gid JOIN g gb ON v.gid_b = gb.gid),
    cross2 AS (SELECT jaccard, ia, unnest(ids_b) AS ib FROM cross1),
    within1 AS (
      SELECT round(CAST(n_ts AS DOUBLE) / n_ts, 6) AS jaccard,
             unnest(ids) AS ia, ids
      FROM g WHERE cnt > 1 AND n_ts > 0),
    within2 AS (SELECT jaccard, ia, unnest(ids) AS ib FROM within1)
    SELECT LEAST(ia, ib) AS id_a, GREATEST(ia, ib) AS id_b, jaccard
    FROM cross2
    UNION ALL
    SELECT ia AS id_a, ib AS id_b, jaccard FROM within2 WHERE ia < ib
    ORDER BY id_a, id_b
    """


def sql_gopher_flag_cases() -> str:
    """DuckDB twin of functions.quality_rules.gopher_flag_cols: the four
    Gopher-style rule flags over per-doc (n_words, n_types, chars, mx).
    Integer-exact (cross-multiplied thresholds, no float division)."""
    return """CASE WHEN n_words BETWEEN 25 AND 90 THEN 0 ELSE 1 END AS f_wc,
         CASE WHEN 7 * n_words > 2 * chars
               OR 4 * chars > 19 * n_words THEN 1 ELSE 0 END AS f_mwl,
         CASE WHEN 3 * n_types < n_words THEN 1 ELSE 0 END AS f_ttr,
         CASE WHEN 8 * mx > n_words THEN 1 ELSE 0 END AS f_dom"""


def sql_gopher_rule_pass() -> str:
    """DuckDB twin of functions.quality_rules.gopher_rule_pass — the
    PASS conjunction (complement of "any flag set")."""
    return """(n_words BETWEEN 25 AND 90
          AND 7 * n_words <= 2 * chars
          AND 4 * chars <= 19 * n_words
          AND 3 * n_types >= n_words
          AND 8 * mx <= n_words)"""


def sql_gopher_report_select() -> str:
    """DuckDB twin of functions.quality_rules.gopher_report_aggs: the
    per-source fail-count rollup over a ``flagged`` CTE."""
    return """SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(f_wc) AS BIGINT) AS fail_word_count,
       CAST(SUM(f_mwl) AS BIGINT) AS fail_mean_word_len,
       CAST(SUM(f_ttr) AS BIGINT) AS fail_ttr,
       CAST(SUM(f_dom) AS BIGINT) AS fail_dominance,
       CAST(SUM(CASE WHEN f_wc + f_mwl + f_ttr + f_dom = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
FROM flagged GROUP BY source ORDER BY source"""
