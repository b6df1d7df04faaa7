"""Round-30-batch query: ROUGE-L, closing VERDICT round-14 "What's
missing" item 5 (LCS/ROUGE-L — "conscious deferral; would be the
registry's first rows-only query"). The LCS dynamic program is
expressible as a DuckDB RECURSIVE CTE over DP rows, so
``rouge_l_eval_overlap`` is registered with a FULL value-hash oracle
(checked by tests/test_queries_oracle.py) and the registry keeps its
zero-rows-only invariant.

- ``rouge_l_eval_overlap`` — generation/summarization evaluation, the
  sequence-sensitive complement to the clipped bag-overlap ROUGE-1/2
  (``rouge_n_eval_overlap``, r28): ROUGE-L scores the LONGEST COMMON
  SUBSEQUENCE between reference and candidate, so token ORDER matters
  — a bag-identical shuffled candidate scores 1.0 on ROUGE-1 but
  collapses on ROUGE-L. Candidate construction keeps the DP honest in
  both directions: every 3rd reference token is dropped (the DP must
  skip inside the REFERENCE), an alien token is spliced mid-candidate
  (a skip inside the CANDIDATE), and the lead token + junk are
  appended (end-anchored noise, the r28 clip-witness idiom).

Exactness contract (both engines, integer DP): the standard LCS
recurrence is evaluated in its max-form
``dp[i][j] = max(dp[i-1][j], dp[i][j-1], dp[i-1][j-1] + eq)`` —
equal to the textbook if/else form because DP rows are monotone
(``dp[i][j-1] <= dp[i-1][j-1] + 1`` and ``dp[i-1][j] <=
dp[i-1][j-1] + 1``). Row update factorizes into a prefix max:
``cur[j] = max_{k<=j} max(prev[k-1] + eq_k, prev[k])`` — Spark runs it
as an Arrow-batched ``np.maximum.accumulate`` row DP (pure int64), the
oracle replays the identical rows with a recursive CTE whose inner
``list_max(list_transform(range(1, j+1), ...))`` IS that prefix max.
Ratios go through the shared round_div decimal snap.

100 TB shape: one map-only Arrow pass — O(|ref|·|cand|) int64 cells
per pair, zero shuffle, zero collect; the eval/reference set is
bounded by definition (the decontamination asymmetry), and candidate
pairing is an equi-join on doc_id upstream of the UDF. The quadratic
is per-PAIR (document lengths), never per-corpus — the same
boundedness argument as the within-cluster SemDeDup quadratic. Not in
the reference repo (an Airflow -> object store -> warehouse -> dbt
stock pipeline, /root/reference/dags/stock_pipeline_dag.py); this is
part of the training-data evaluation surface the build adds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    sql_round_div,
    t,
)

# --------------------------------------------------------------------
# rouge_l_eval_overlap
# --------------------------------------------------------------------

_RL_EVAL_MOD = 41  # doc_id % 41 == 0 plays the reference set (r28 idiom)
_RL_DROP = 3  # every 3rd reference token dropped from the candidate
_RL_MID = "zz7"  # alien token spliced mid-candidate
_RL_TAIL = "zz9"  # alien tail token


def _rl_cand_sql() -> str:
    # kept = reference minus every 3rd token; candidate = first half of
    # kept ++ [mid alien] ++ second half ++ [lead token, tail alien]
    # nested list_concat: the installed DuckDB's list_concat is binary
    return (
        f"list_concat(list_concat(list_concat("
        f"kept[1 : len(kept) // 2], ['{_RL_MID}']),"
        f" kept[len(kept) // 2 + 1 :]),"
        f" [ref_ws[1], '{_RL_TAIL}'])"
    )


def _rl_oracle() -> str:
    return f"""
    WITH RECURSIVE refs AS (
      SELECT doc_id, string_split(text, ' ') AS ref_ws,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE doc_id % {_RL_EVAL_MOD} = 0
    ),
    keptt AS (
      SELECT doc_id, ref_ws, n,
             [ref_ws[i] FOR i IN range(1, n + 1)
              IF i % {_RL_DROP} != 0] AS kept
      FROM refs
    ),
    pairs AS (
      SELECT doc_id, ref_ws, n, {_rl_cand_sql()} AS cand_ws FROM keptt
    ),
    p2 AS (
      SELECT doc_id, ref_ws, n, cand_ws, len(cand_ws) AS m FROM pairs
    ),
    dp AS (
      SELECT doc_id, 0 AS i,
             list_transform(range(0, m + 1), x -> 0) AS row
      FROM p2
      UNION ALL
      -- row i from row i-1: cur[j] = max_k<=j max(prev[k-1]+eq_k,
      -- prev[k]); the eq branch alone when tokens differ is dominated
      -- by prev[k] (monotone rows), so the CASE collapses to 0
      SELECT p.doc_id, d.i + 1,
        list_concat([0], list_transform(range(1, p.m + 1), j ->
          list_max(list_transform(range(1, j + 1), k ->
            greatest(
              d.row[k + 1],
              CASE WHEN p.ref_ws[d.i + 1] = p.cand_ws[k]
                   THEN d.row[k] + 1 ELSE 0 END)))))
      FROM dp d JOIN p2 p USING (doc_id)
      WHERE d.i + 1 <= p.n
    )
    SELECT d.doc_id,
           CAST(d.row[p.m + 1] AS BIGINT) AS lcs_len,
           CAST(p.m AS BIGINT) AS lc,
           CAST(p.n AS BIGINT) AS lr,
           {sql_round_div('d.row[p.m + 1] * 1.0', 'p.m', 6)}
             AS rouge_l_p,
           {sql_round_div('d.row[p.m + 1] * 1.0', 'p.n', 6)}
             AS rouge_l_r,
           {sql_round_div('2.0 * d.row[p.m + 1]', 'p.m + p.n', 6)}
             AS rouge_l_f1
    FROM dp d JOIN p2 p USING (doc_id)
    WHERE d.i = p.n
    ORDER BY d.doc_id
    """


@pandas_udf(T.LongType())
def _lcs_len(ref: pd.Series, cand: pd.Series) -> pd.Series:
    """Exact int64 LCS length per (ref, cand) token-array pair: the
    max-form row DP with the prefix max as np.maximum.accumulate —
    the same rows the oracle's recursive CTE materializes."""
    out = np.zeros(len(ref), dtype=np.int64)
    for idx in range(len(ref)):
        b = np.asarray(cand.iloc[idx], dtype=object)
        m = b.shape[0]
        prev = np.zeros(m + 1, dtype=np.int64)
        if m:
            cur = np.empty(m + 1, dtype=np.int64)
            for x in ref.iloc[idx]:
                eq = (b == x).astype(np.int64)
                base = np.maximum(prev[1:], prev[:-1] + eq)
                cur[0] = 0
                np.maximum.accumulate(base, out=cur[1:])
                prev, cur = cur, prev
        out[idx] = prev[m]
    return pd.Series(out)


@register(
    "rouge_l_eval_overlap",
    _rl_oracle(),
    doc="ROUGE-L (LCS) generation-evaluation overlap — the sequence-"
    "sensitive complement to the r28 clipped ROUGE-1/2: longest common "
    "subsequence between each bounded reference doc and its planted "
    "candidate (every 3rd token dropped, alien mid-splice, repeated "
    "lead + junk tail), P/R/F1 over integer LCS lengths via round_div. "
    "Exact integer DP on BOTH engines: Spark runs the max-form row DP "
    "as an Arrow-batched np.maximum.accumulate kernel (the r15 "
    "interpreted-lambda lesson, applied at birth); the DuckDB twin "
    "replays the identical rows with a RECURSIVE CTE whose "
    "list_max(list_transform(...)) inner fold IS the row's prefix "
    "max — the registry's first sequence-alignment query, and it "
    "keeps the zero-rows-only invariant. 100 TB: map-only, zero "
    "shuffle; the quadratic is per-pair document length, the "
    "reference set is bounded by definition.",
)
def rouge_l_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rouge_l_eval_overlap_from(
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _RL_EVAL_MOD == 0)
        .select("doc_id", "text")
    )


def rouge_l_eval_overlap_from(refs: DataFrame) -> DataFrame:
    """The full scorer over a (doc_id, text) reference frame — shared
    with tools/stress_check.py's stress stage so the stress row always
    measures the shipping shape."""
    pairs = (
        refs.select("doc_id", F.split("text", " ").alias("ref_ws"))
        .select(
            "doc_id",
            "ref_ws",
            F.filter(
                "ref_ws", lambda x, i: (i + 1) % _RL_DROP != 0
            ).alias("kept"),
        )
        .select(
            "doc_id",
            "ref_ws",
            F.expr(
                f"concat("
                f"slice(kept, 1, size(kept) div 2),"
                f" array('{_RL_MID}'),"
                f" slice(kept, size(kept) div 2 + 1,"
                f"       size(kept) - size(kept) div 2),"
                f" array(element_at(ref_ws, 1), '{_RL_TAIL}'))"
            ).alias("cand_ws"),
        )
    )
    scored = pairs.select(
        "doc_id",
        _lcs_len("ref_ws", "cand_ws").alias("lcs_len"),
        F.size("cand_ws").cast("long").alias("lc"),
        F.size("ref_ws").cast("long").alias("lr"),
    )
    return scored.select(
        "doc_id",
        "lcs_len",
        "lc",
        "lr",
        round_div(F.col("lcs_len") * 1.0, F.col("lc"), 6).alias(
            "rouge_l_p"
        ),
        round_div(F.col("lcs_len") * 1.0, F.col("lr"), 6).alias(
            "rouge_l_r"
        ),
        round_div(
            F.col("lcs_len") * 2.0, F.col("lc") + F.col("lr"), 6
        ).alias("rouge_l_f1"),
    ).orderBy("doc_id")
