"""Semantic pins for the queries/dedup.py rows: pure-Python replays,
planted-witness contracts and fixture guards that the value-hash
compare in tests/test_queries_oracle.py can't express."""

import hashlib
import re
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.dedup import (
    _CE_MIN_SH,
    _CE_OFFSET,
    _CE_PCT,
    _INC_PLANT_OFFSET,
    _INC_T,
    _PH_P1_OFFSET,
    _PH_P2_OFFSET,
    _PH_PLANT_MOD,
    _RC_PLANT_MOD,
    _RC_V_OFFSET,
    _SD_PLANT_OFFSET,
    _SS_PLANT_OFFSET,
    _SS_POP,
    _SW_MIN_PLANT_TOKS,
    _SW_N,
    _SW_OFFSET,
    _SW_PLANT_MOD,
    _TR_PLANT_MOD,
    _TR_QUOTE,
    _TR_W,
    _UC_FAM,
    _UC_FRAG,
    _UC_PORT,
    _UC_PREFIX,
    _UC_SLASH,
    _UC_TRACK,
)


@pytest.mark.parametrize("table,offset", [
    ("embeddings", _SD_PLANT_OFFSET),
    ("documents", _INC_PLANT_OFFSET),
])
def test_plant_offset_clears_fixture_ids(sf_dir, table, offset):
    # a fixture id >= offset would alias a planted copy and
    # silently break the dropped==planted invariants below. Guarded
    # here instead of per-invocation so the query plan stays scan-only.
    col = "vec_id" if table == "embeddings" else "doc_id"
    mn, mx = duckdb.connect().execute(
        f"SELECT min({col}), max({col}) "
        f"FROM read_parquet('{sf_dir}/{table}.parquet')"
    ).fetchone()
    assert mx < offset
    # colbert_maxsim_topk's shiftright grouping floors while
    # DuckDB's // truncates toward zero — they agree only for
    # non-negative ids, so pin the fixture's floor alongside its ceiling.
    assert mn >= 0


def test_semdedup_drops_exactly_the_planted_copies(spark, sf_dir):
    rows = QUERY_REGISTRY["semdedup_prune"].spark(spark, sf_dir).collect()
    dropped = {r["vec_id"] for r in rows if r["dropped"]}
    planted = {r["vec_id"] for r in rows if r["vec_id"] >= _SD_PLANT_OFFSET}
    assert planted, "fixture lost its planted copies"
    # every planted copy has cosine ~1 with its original; both land in
    # the same cluster (identical direction), so all planted ids drop
    # and no original does (raw max pairwise cosine is 0.51 << 0.95)
    assert dropped == planted


def test_novelty_bounds_and_first_doc(spark, sf_dir):
    rows = (
        QUERY_REGISTRY["ngram_novelty_profile"].spark(spark, sf_dir).collect()
    )
    by_id = {r["doc_id"]: r for r in rows}
    first = by_id[min(by_id)]
    # the earliest doc's shingles are first-seen by definition
    assert first["n_novel"] == first["n_shingles"]
    assert first["novelty"] == 1.0
    for r in rows:
        assert 0 < r["n_shingles"]
        assert 0 <= r["n_novel"] <= r["n_shingles"]
        assert 0.0 <= r["novelty"] <= 1.0


def test_incremental_near_dup_contract(spark, sf_dir):
    rows = (
        QUERY_REGISTRY["incremental_near_dup_lsh"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert rows, "no near-dup pairs found"
    planted_hits = set()
    for r in rows:
        # asymmetric contract: left side incoming (odd or planted),
        # right side corpus (even, un-planted)
        inc, cor = r["inc_id"], r["corpus_id"]
        assert inc % 2 == 1 or inc >= _INC_PLANT_OFFSET
        assert cor % 2 == 0 and cor < _INC_PLANT_OFFSET
        assert r["est_jaccard"] >= _INC_T
        if inc >= _INC_PLANT_OFFSET:
            planted_hits.add((inc - _INC_PLANT_OFFSET, cor))
    # every planted near-copy must be caught against its own original
    n_planted = duckdb.connect().execute(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
        " WHERE doc_id % 26 = 0"
    ).fetchone()[0]
    self_pairs = {(o, c) for o, c in planted_hits if o == c}
    assert len(self_pairs) == n_planted


def test_winnowing_guarantee_on_planted_tails(spark, sf_dir):
    from market_pulse_data_pipeline_spark.queries.dedup import (
        _WN_PLANT_OFFSET,
        _WN_T,
    )

    rows = (
        QUERY_REGISTRY["winnowing_fingerprint_pairs"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert rows
    planted_hits = {
        (r["doc_a"] - _WN_PLANT_OFFSET, r["doc_b"])
        for r in rows
        if r["doc_a"] >= _WN_PLANT_OFFSET
    }
    for r in rows:
        assert r["doc_a"] > r["doc_b"]
        assert r["n_shared"] >= _WN_T
    # the winnowing guarantee: every planted tail-extension shares its
    # whole prefix with the original, so (planted, original) must pair
    n_eligible = duckdb.connect().execute(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
        " WHERE doc_id % 31 = 0 AND len(string_split(text, ' ')) >= 8"
    ).fetchone()[0]
    self_pairs = {(o, b) for o, b in planted_hits if o == b}
    assert len(self_pairs) == n_eligible


def test_winnowing_clusters_join_planted_tails(spark, sf_dir):
    from market_pulse_data_pipeline_spark.queries.dedup import (
        _WN_PLANT_OFFSET,
    )

    rows = (
        QUERY_REGISTRY["winnowing_cluster_dedup"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert rows
    cluster_of = {r["doc_id"]: r["cluster_id"] for r in rows}
    # every planted tail-extension clusters with its original (the
    # winnowing guarantee survives the component composition)
    for doc_id, cid in cluster_of.items():
        if doc_id >= _WN_PLANT_OFFSET:
            orig = doc_id - _WN_PLANT_OFFSET
            assert orig in cluster_of
            assert cluster_of[orig] == cid
    # exactly one kept representative per cluster: the min id
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, rs in by_cluster.items():
        kept = [r for r in rs if r["is_kept"]]
        assert len(kept) == 1
        assert kept[0]["doc_id"] == min(r["doc_id"] for r in rs) == cid
        assert all(r["cluster_size"] == len(rs) for r in rs)


# --------------------------------------------------------------------
# exact_substring_trim
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def trim_rows(spark, sf_dir):
    return {
        r.doc_id: r
        for r in QUERY_REGISTRY["exact_substring_trim"].spark(spark, sf_dir).collect()
    }


def test_trim_quote_owner_keeps_everyone_else_loses_16(trim_rows):
    assert len(_TR_QUOTE.split()) == _TR_W
    planted = sorted(d for d in trim_rows if d % _TR_PLANT_MOD == 0)
    assert len(planted) > 2
    owner = planted[0]  # min doc_id owns the shared quote
    assert trim_rows[owner].n_removed == 0
    for d in planted[1:]:
        assert trim_rows[d].n_removed >= _TR_W, f"doc {d} kept the quote"


def test_trim_unplanted_docs_pass_through_byte_identical(trim_rows, sf_dir):
    import duckdb

    texts = dict(
        duckdb.sql(
            f"SELECT doc_id, lower(text) FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    )
    unplanted = [d for d in trim_rows if d % _TR_PLANT_MOD != 0]
    assert unplanted
    # the fixture corpus plants its own exact-duplicate documents (the
    # dedup operators' witnesses), so SOME unplanted docs legitimately
    # lose their duplicated runs; the pass-through contract is for the
    # untouched majority: n_removed == 0 must mean byte-identity
    untouched = [d for d in unplanted if trim_rows[d].n_removed == 0]
    assert len(untouched) >= int(0.5 * len(unplanted))
    for d in untouched:
        assert trim_rows[d].clean_md5 == hashlib.md5(
            texts[d].encode("utf-8")
        ).hexdigest()
    # trimmed unplanted docs exist too: the fixture corpus carries
    # its own long shared substrings (the near-dup operators'
    # witnesses, e.g. docs 12/8/120/360 share 60+ consecutive
    # 16-grams at sf0.001) — the trim must cut at least a full
    # window from each of those
    trimmed = [d for d in unplanted if trim_rows[d].n_removed > 0]
    assert trimmed
    assert all(trim_rows[d].n_removed >= _TR_W for d in trimmed)


def test_trim_counts_are_conserved(trim_rows):
    for r in trim_rows.values():
        assert 0 <= r.n_removed <= r.n_tokens


# --------------------------------------------------------------------
# paragraph_simhash_near_dups
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def ph_rows(spark, sf_dir):
    return (
        QUERY_REGISTRY["paragraph_simhash_near_dups"].spark(spark, sf_dir).collect()
    )


def _plant_ids(sf_dir, offset):
    import duckdb

    seeds = duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet') "
        f"WHERE doc_id % {_PH_PLANT_MOD} = 0"
    ).fetchall()
    return sorted(d + offset for (d,) in seeds)


def test_ph_identical_promo_docs_all_pair_at_hamming_zero(ph_rows, sf_dir):
    p1 = _plant_ids(sf_dir, _PH_P1_OFFSET)
    assert len(p1) >= 2
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in ph_rows
        if _PH_P1_OFFSET <= r.doc_a < _PH_P2_OFFSET
        and _PH_P1_OFFSET <= r.doc_b < _PH_P2_OFFSET
    }
    for i, a in enumerate(p1):
        for b in p1[i + 1:]:
            assert got.get((a, b)) == 0, f"identical promos {a},{b} missed"


def test_ph_mutated_promos_pair_among_themselves(ph_rows, sf_dir):
    p2 = _plant_ids(sf_dir, _PH_P2_OFFSET)
    if len(p2) < 2:
        pytest.skip("fixture too small for two mutated plants")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in ph_rows
        if r.doc_a >= _PH_P2_OFFSET and r.doc_b >= _PH_P2_OFFSET
    }
    for i, a in enumerate(p2):
        for b in p2[i + 1:]:
            assert got.get((a, b)) == 0


def test_ph_all_pairs_within_threshold_and_ordered(ph_rows):
    assert ph_rows
    for r in ph_rows:
        assert 0 <= r.hamming <= 3
        assert (r.doc_a, r.para_a) < (r.doc_b, r.para_b)


# --------------------------------------------------------------------
# paragraph SimHash signature-kernel equivalence
# --------------------------------------------------------------------


def test_ph_signature_kernel_matches_jvm(spark, sf_dir):
    """The Arrow signature kernel must reproduce the expression
    pipeline it replaced (md5-per-token transform + 60 interpreted vote folds)
    bit-for-bit on real fixture text plus the planted paragraphs."""
    import hashlib

    from pyspark.sql import functions as F

    from market_pulse_data_pipeline_spark.queries.common import t
    from market_pulse_data_pipeline_spark.queries.dedup import (
        _PH_BITS,
        _PH_PROMO,
        _PH_PROMO_MUT,
        _PH_W,
    )
    from market_pulse_data_pipeline_spark.functions.dedup import (
        portable_hash60,
    )

    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(40)
        .unionByName(
            spark.createDataFrame(
                [(10_000_000, _PH_PROMO), (20_000_000, _PH_PROMO_MUT)],
                "doc_id long, text string",
            )
        )
    )
    # the expression path, verbatim
    tk = F.split("text", " ")
    paras = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size(tk), F.lit(_PH_W))).alias(
            "start"
        ),
        tk.alias("tk"),
    ).select(
        "doc_id",
        ((F.col("start") - 1) / _PH_W).cast("long").alias("para_id"),
        F.array_join(
            F.slice(F.col("tk"), F.col("start"), _PH_W), " "
        ).alias("ptext"),
    )
    hs = F.transform(
        F.split("ptext", " "),
        lambda w: portable_hash60(F.concat(F.lit("pp:"), w)),
    )
    bit_terms = None
    for k in range(_PH_BITS):
        vote = F.aggregate(
            F.col("hs"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + (F.shiftright(h, k).bitwiseAND(F.lit(1)) * 2 - 1).cast(
                "long"
            ),
        )
        term = F.when(vote > 0, F.lit(1 << k).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bit_terms = term if bit_terms is None else bit_terms + term
    jvm = sorted(
        (r["doc_id"], r["para_id"], r["sim"])
        for r in paras.select(
            "doc_id", "para_id", hs.alias("hs")
        )
        .select("doc_id", "para_id", bit_terms.alias("sim"))
        .collect()
    )

    # the kernel: replay via hashlib/numpy exactly as the query does
    import numpy as np

    bitpos = np.arange(_PH_BITS, dtype=np.int64)
    kern = []
    for r in docs.collect():
        toks = r["text"].split(" ")
        for pi in range(0, (len(toks) + _PH_W - 1) // _PH_W):
            chunk = toks[pi * _PH_W : (pi + 1) * _PH_W]
            hvals = np.fromiter(
                (
                    int(
                        hashlib.md5(("pp:" + w).encode()).hexdigest()[:15],
                        16,
                    )
                    for w in chunk
                ),
                dtype=np.int64,
                count=len(chunk),
            )
            bits = (hvals[:, None] >> bitpos) & 1
            votes = 2 * bits.sum(axis=0) - len(chunk)
            sim = int(((votes > 0).astype(np.int64) << bitpos).sum())
            kern.append((r["doc_id"], pi, sim))
    assert jvm == sorted(kern)
    assert len(jvm) > 40  # non-vacuous: multiple paragraphs per doc


# --------------------------------------------------------------------
# lsh_recall_curve
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def rc_rows(spark, sf_dir):
    return {
        r.j_bucket: r
        for r in QUERY_REGISTRY["lsh_recall_curve"].spark(spark, sf_dir).collect()
    }


def test_recall_curve_shape(rc_rows):
    # counts are coherent and the top decile exists (verbatim plants
    # guarantee J = 1 pairs)
    assert 9 in rc_rows, "no J >= 0.9 pairs despite verbatim plants"
    for r in rc_rows.values():
        assert 0 <= r.j_bucket <= 9
        assert 0 <= r.n_candidates <= r.n_pairs
        # replay round_div's decimal half-away-from-zero route, NOT
        # builtin round() (banker's rounding): an exact dyadic ratio
        # like 1/32 = 0.03125 rounds to 0.0312 under Python round but
        # 0.0313 under the engines' half-up rule
        expect = float(
            (Decimal(r.n_candidates) / Decimal(r.n_pairs))
            .quantize(Decimal("0.00000001"), rounding=ROUND_HALF_UP)
            .quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )
        assert abs(r.recall - expect) < 1e-9


def test_recall_curve_endpoints(rc_rows, sf_dir):
    # the banded scheme (16 perms x 4 bands, midpoint ~0.71) must
    # capture essentially everything at J >= 0.9 and essentially
    # nothing at J < 0.1 — the s-curve's defining endpoints
    assert rc_rows[9].recall == 1.0, "J >= 0.9 pairs escaped the bands"
    if 0 in rc_rows:
        assert rc_rows[0].recall <= 0.05
    # verbatim plants: every 17th doc (with >= 3 tokens) contributes
    # at least one J = 1 pair
    import duckdb

    n_seeds = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet') "
        f"WHERE doc_id % {_RC_PLANT_MOD} = 0 "
        f"AND len(string_split(text, ' ')) >= 3"
    ).fetchone()[0]
    assert rc_rows[9].n_pairs >= n_seeds


def test_rc_plant_ids_clear_fixture_ids(sf_dir):
    import duckdb

    hi = duckdb.sql(
        f"SELECT max(doc_id) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    assert hi + _RC_PLANT_MOD < _RC_V_OFFSET


# --------------------------------------------------------------------
# containment_excerpt_dups
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def ce_rows(spark, sf_dir):
    return QUERY_REGISTRY["containment_excerpt_dups"].spark(spark, sf_dir).collect()


def test_containment_flags_planted_excerpts(ce_rows):
    # planted excerpt twins (id = source + offset) must surface with
    # containment exactly 1.0: the excerpt's df-capped shingle set is a
    # subset of its source's (the cap removes a shingle from BOTH docs
    # or neither), so inter == n_small identically
    planted = [
        r
        for r in ce_rows
        if r.doc_small >= _CE_OFFSET
        and r.doc_big == r.doc_small - _CE_OFFSET
        or r.doc_big >= _CE_OFFSET
        and r.doc_small == r.doc_big - _CE_OFFSET
    ]
    assert planted, "no planted excerpt pair was flagged"
    for r in planted:
        assert r.containment == 1.0
        # the operator's reason to exist: these pairs sit BELOW the
        # symmetric near-dup threshold the Jaccard family uses
        assert r.jaccard < 0.8


def test_containment_threshold_is_integer_exact(ce_rows):
    for r in ce_rows:
        assert r.n_small >= _CE_MIN_SH
        assert 10 * r.inter >= _CE_PCT * r.n_small
        assert r.inter <= r.n_small <= r.n_big
        assert 0.0 < r.jaccard <= r.containment <= 1.0


def test_containment_pair_gen_matches_self_join(spark, sf_dir):
    # equivalence pin: the bounded per-shingle doc-set pair
    # generator (window df-cap -> collect_set -> map-side C(k,2)) must
    # produce exactly the (doc_a, doc_b, inter) and (doc_id, n_sh)
    # multisets of the verbatim keptsh self-join it replaced.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from market_pulse_data_pipeline_spark.queries.common import t
    from market_pulse_data_pipeline_spark.queries.dedup import (
        _CE_MAX_DF,
        _CE_MIN_PLANT_TOKS,
        _CE_N,
        _CE_PLANT_MOD,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    src = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("ws")
    ).filter(F.size("ws") >= _CE_N)
    ex_len = F.greatest(
        F.lit(_CE_N + 2), F.floor(F.size("ws") * 2 / 5).cast("int")
    )
    plants = src.filter(
        (F.col("doc_id") % _CE_PLANT_MOD == 0)
        & (F.size("ws") >= _CE_MIN_PLANT_TOKS)
    ).select(
        (F.col("doc_id") + _CE_OFFSET).alias("doc_id"),
        F.slice("ws", F.lit(1), ex_len).alias("ws"),
    )
    corpus = src.unionByName(plants)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("ws") - _CE_N),
        lambda i: F.md5(
            F.encode(F.concat_ws(" ", F.slice("ws", i + 1, _CE_N)), "utf-8")
        ),
    )
    sh = corpus.select("doc_id", F.explode(grams).alias("h")).distinct()
    df_w = Window.partitionBy("h")
    keptsh = (
        sh.withColumn("_df", F.count(F.lit(1)).over(df_w))
        .filter(F.col("_df") <= _CE_MAX_DF)
        .drop("_df")
        .localCheckpoint()
    )
    legacy_sizes = sorted(
        (r.doc_id, r["count"])
        for r in keptsh.groupBy("doc_id").count().collect()
    )
    a, b = keptsh.alias("a"), keptsh.alias("b")
    legacy_pairs = sorted(
        (r.doc_a, r.doc_b, r.inter)
        for r in a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
        .collect()
    )

    grp = (
        sh.withColumn("_df", F.count(F.lit(1)).over(df_w))
        .filter(F.col("_df") <= _CE_MAX_DF)
        .groupBy("h")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .localCheckpoint()
    )
    ds = F.col("ds")
    pair_arr = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + F.lit(2), F.size(ds)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    new_sizes = sorted(
        (r.doc_id, r["count"])
        for r in grp.select(F.explode(ds).alias("doc_id"))
        .groupBy("doc_id")
        .count()
        .collect()
    )
    new_pairs = sorted(
        (r.doc_a, r.doc_b, r.inter)
        for r in grp.select(F.explode(pair_arr).alias("pr"))
        .groupBy(
            F.col("pr.a").alias("doc_a"),
            F.col("pr.b").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
        .collect()
    )
    assert new_sizes == legacy_sizes
    assert new_pairs == legacy_pairs
    # every per-shingle buffer is bounded by the df-cap
    assert grp.agg(F.max(F.size("ds"))).first()[0] <= _CE_MAX_DF


def _round_div(n: int, d: int) -> float:
    """round_div's decimal half-away-from-zero route (NOT builtin
    round(), which is banker's)."""
    return float(
        (Decimal(n) / Decimal(d))
        .quantize(Decimal("0.00000001"), rounding=ROUND_HALF_UP)
        .quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )


def _doc_ids(sf_dir: str) -> list[int]:
    return [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM "
            f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
        ).fetchall()
    ]


# --------------------------------------------------------------------
# softdedup_commonness_reweight
# --------------------------------------------------------------------


def _softdedup_replay(sf_dir: str) -> dict[int, tuple[int, int]]:
    """Engine-free replay: doc_id -> (n_sh, sum_df) over the planted
    corpus, distinct md5 word-4-gram shingles."""
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    shingles: dict[int, set[str]] = {}
    for doc_id, text in rows:
        ws = text.lower().split(" ")
        if len(ws) < _SW_N:
            continue
        sh = {
            hashlib.md5(
                " ".join(ws[i : i + _SW_N]).encode("utf-8")
            ).hexdigest()
            for i in range(len(ws) - _SW_N + 1)
        }
        shingles[doc_id] = sh
        if doc_id % _SW_PLANT_MOD == 0 and len(ws) >= _SW_MIN_PLANT_TOKS:
            shingles[doc_id + _SW_OFFSET] = sh
    df: dict[str, int] = {}
    for sh in shingles.values():
        for h in sh:
            df[h] = df.get(h, 0) + 1
    return {
        d: (len(sh), sum(df[h] for h in sh)) for d, sh in shingles.items()
    }


@pytest.fixture(scope="module")
def sw_rows(spark, sf_dir):
    return (
        QUERY_REGISTRY["softdedup_commonness_reweight"]
        .spark(spark, sf_dir)
        .collect()
    )


def test_softdedup_replay_exact(sw_rows, sf_dir):
    expect = _softdedup_replay(sf_dir)
    assert {r.doc_id for r in sw_rows} == set(expect)
    for r in sw_rows:
        n_sh, sum_df = expect[r.doc_id]
        assert (r.n_sh, r.sum_df) == (n_sh, sum_df), r.doc_id
        assert abs(r.commonness - _round_div(sum_df, n_sh)) < 1e-9
        assert abs(r.soft_weight - _round_div(n_sh, sum_df)) < 1e-9


def test_softdedup_plant_weights(sw_rows):
    """A verbatim twin shares EVERY shingle with its source, so both
    carry df >= 2 on every shingle: soft_weight <= 0.5 for the pair —
    the SoftDeDup down-weighting semantics, machine-checked."""
    by_id = {r.doc_id: r for r in sw_rows}
    plants = [r for r in sw_rows if r.doc_id >= _SW_OFFSET]
    assert plants, "no planted twins in fixture"
    for p in plants:
        src = by_id[p.doc_id - _SW_OFFSET]
        assert p.soft_weight <= 0.5, p.doc_id
        assert src.soft_weight <= 0.5, src.doc_id
        # the twin is verbatim: identical shingle set, identical row
        assert (p.n_sh, p.sum_df) == (src.n_sh, src.sum_df)


def test_softdedup_weight_bounds(sw_rows):
    # df >= 1 always, so commonness >= 1 and 0 < soft_weight <= 1
    for r in sw_rows:
        assert r.commonness >= 1.0
        assert 0.0 < r.soft_weight <= 1.0
        assert r.sum_df >= r.n_sh


# --------------------------------------------------------------------
# url_canonicalize_dedup
# --------------------------------------------------------------------


def _canon(url: str) -> str:
    """Pure-python replay of the shared pattern chain (Java regex, RE2
    and python re agree on this subset)."""
    u2 = re.sub(_UC_FRAG, "", url)
    u2 = re.sub(_UC_TRACK, "", u2)
    prefix = re.match(_UC_PREFIX, u2).group(1)
    rest = u2[len(prefix) :]
    return re.sub(_UC_PORT, "", prefix.lower()) + re.sub(
        _UC_SLASH, "", rest
    )


def _url_for(doc_id: int) -> str:
    g = doc_id // _UC_FAM
    host = f"www.site{g}.com"
    v = doc_id % _UC_FAM
    return {
        0: f"https://{host}/a/b",
        1: f"HTTPS://{host.upper()}/a/b#frag",
        2: f"https://{host}:443/a/b?utm_source=feed&utm_medium=rss",
        3: f"https://{host}/a/b/",
        4: f"https://{host}/other",
    }[v]


@pytest.fixture(scope="module")
def uc_rows(spark, sf_dir):
    return QUERY_REGISTRY["url_canonicalize_dedup"].spark(spark, sf_dir).collect()


def test_url_replay_exact(uc_rows, sf_dir):
    groups: dict[str, list[int]] = {}
    for doc_id in _doc_ids(sf_dir):
        groups.setdefault(_canon(_url_for(doc_id)), []).append(doc_id)
    expect = {c: (len(ids), min(ids)) for c, ids in groups.items()}
    got = {r.canonical_url: (r.n_docs, r.keep_doc_id) for r in uc_rows}
    assert got == expect


def test_url_family_collapse(uc_rows, sf_dir):
    """Per complete 5-doc family: variants 0-3 (plain / upper-host+
    fragment / :443+utm / trailing slash) collapse into ONE 4-doc
    canonical group; variant 4 stays its own 1-doc group."""
    ids = set(_doc_ids(sf_dir))
    by_canon = {r.canonical_url: r for r in uc_rows}
    complete = [
        g
        for g in {i // _UC_FAM for i in ids}
        if all(g * _UC_FAM + v in ids for v in range(_UC_FAM))
    ]
    assert complete, "no complete URL family in fixture"
    for g in complete:
        merged = by_canon[f"https://www.site{g}.com/a/b"]
        assert merged.n_docs == 4
        assert merged.keep_doc_id == g * _UC_FAM
        assert by_canon[f"https://www.site{g}.com/other"].n_docs == 1


def test_url_canonical_forms(uc_rows):
    # every rule's residue is gone from every canonical form
    for r in uc_rows:
        c = r.canonical_url
        assert "#" not in c and "utm_" not in c and ":443" not in c
        assert not c.endswith("/")
        prefix = re.match(_UC_PREFIX, c).group(1)
        assert prefix == prefix.lower(), "host not case-folded"


# --------------------------------------------------------------------
# semdedup_scaled_prune
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def ss_rows(spark, sf_dir):
    return QUERY_REGISTRY["semdedup_scaled_prune"].spark(spark, sf_dir).collect()


def _expected_k(sf_dir: str) -> tuple[int, int]:
    n = duckdb.sql(
        f"SELECT COUNT(*) FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchone()[0]
    plants = duckdb.sql(
        f"SELECT COUNT(*) FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') WHERE vec_id % 13 = 0"
    ).fetchone()[0]
    total = n + plants
    return total, (total + _SS_POP - 1) // _SS_POP


def test_scaled_k_rule_and_population_bound(ss_rows, sf_dir):
    """THE scaling contract: k = ceil(N / 50), so
    mean cluster population <= 50 BY CONSTRUCTION at every corpus
    size; the observed max stays within 2x of target on the fixture
    (k-means balance, not a guarantee — the mean is the guarantee)."""
    total, k = _expected_k(sf_dir)
    assert len(ss_rows) == total
    clusters = {}
    for r in ss_rows:
        assert 0 <= r.cluster < k, r.vec_id
        clusters[r.cluster] = clusters.get(r.cluster, 0) + 1
    assert len(clusters) <= k
    assert total / k <= _SS_POP  # the construction guarantee
    assert max(clusters.values()) <= 2 * _SS_POP  # fixture balance
    # k actually tracks N: with the fixture's 539 vectors the constant
    # k=10 of semdedup_prune would already be wrong here
    assert k == (total + _SS_POP - 1) // _SS_POP and k > 10


def test_scaled_drops_exactly_the_planted_copies(ss_rows):
    dropped = {r.vec_id for r in ss_rows if r.dropped}
    planted = {r.vec_id for r in ss_rows if r.vec_id >= _SS_PLANT_OFFSET}
    assert planted, "fixture lost its planted copies"
    # every planted copy has cosine ~1 with its original, both land in
    # the same cluster, and the higher id (the plant) drops
    assert dropped == planted
