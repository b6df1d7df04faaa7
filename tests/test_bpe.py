"""functions/bpe.py vs a pure-Python replay of the same greedy BPE
merge semantics, plus the overlap edge case."""

import duckdb

from market_pulse_data_pipeline_spark.functions.bpe import bpe_train
from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def python_bpe(texts: list[str], n_merges: int):
    seqs = [t.split(" ") for t in texts]
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for s in seqs:
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        if not counts:
            break
        # max count, then lexicographic (l, r) — mirrors the Spark order
        (left, right), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if n < 2:
            break
        merges.append((left, right, n))
        new_seqs = []
        for s in seqs:
            out, i = [], 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == left and s[i + 1] == right:
                    out.append(s[i] + " " + s[i + 1])
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            new_seqs.append(out)
        seqs = new_seqs
    return merges


def test_bpe_matches_python_replay(spark):
    docs = load_table(spark, SF_DIR, "documents")
    texts = [r.text for r in docs.select("text").orderBy("doc_id").collect()]
    got = bpe_train(docs, n_merges=6)
    want = python_bpe(texts, 6)
    assert got == want
    assert len(got) == 6  # fixture corpus has at least 6 learnable merges
    assert all(n >= 2 for _, _, n in got)


def test_bpe_greedy_overlap_semantics(spark):
    # "x x x" must merge positions 0-1 only: the pair count is 2 but one
    # greedy pass yields exactly one merged symbol + one bare x
    df = spark.createDataFrame([("x x x",), ("x x y",)], "text string")
    merges = bpe_train(df, n_merges=1)
    assert merges == [("x", "x", 3)]  # 2 from doc1 + 1 from doc2
    # second round on the merged corpus: replay agrees end-to-end
    assert bpe_train(df, n_merges=2) == python_bpe(["x x x", "x x y"], 2)


def _oracle_rows(con, n_merges):
    from market_pulse_data_pipeline_spark.functions.bpe import bpe_oracle_sql

    return con.execute(bpe_oracle_sql(n_merges=n_merges)).fetchall()


def test_bpe_oracle_matches_python_replay_engine_free():
    # the same parity the CORRECTNESS gate witnesses Spark-side, pinned
    # engine-free: the unrolled DuckDB CTE loop must reproduce the
    # pure-Python greedy replay bit-for-bit at both fixture SFs.
    import duckdb

    con = duckdb.connect()
    for sf in ("0.001", "0.01"):
        con.execute(
            f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
            f"'/root/testdata/sf{sf}/documents.parquet'"
        )
        texts = [
            r[0]
            for r in con.execute(
                "SELECT text FROM documents ORDER BY doc_id"
            ).fetchall()
        ]
        want = [
            (i, l, r, n) for i, (l, r, n) in enumerate(python_bpe(texts, 8))
        ]
        assert _oracle_rows(con, 8) == want
    con.close()


def test_bpe_oracle_overlap_and_early_stop():
    import duckdb

    con = duckdb.connect()
    # greedy overlap: "x x x" contributes 2 to the pair count but only
    # one merge happens (odd-rank island rule == left-to-right greedy)
    con.execute(
        "CREATE OR REPLACE VIEW documents AS SELECT * FROM "
        "(VALUES (1, 'x x x'), (2, 'x x y')) AS v(doc_id, text)"
    )
    got = _oracle_rows(con, 3)
    want = [
        (i, l, r, n)
        for i, (l, r, n) in enumerate(python_bpe(["x x x", "x x y"], 3))
    ]
    assert got == want and len(got) < 3  # early-stopped below 3 rounds
    # all-unique corpus: best pair count is 1 < 2 everywhere -> no rows
    con.execute(
        "CREATE OR REPLACE VIEW documents AS SELECT * FROM "
        "(VALUES (1, 'a b c'), (2, 'd e f')) AS v(doc_id, text)"
    )
    assert _oracle_rows(con, 2) == []
    con.close()


def test_bpe_encode_conserves_words(spark, sf_dir):
    rows = QUERY_REGISTRY["bpe_encode_corpus"].spark(spark, sf_dir).collect()
    # every fixture doc encodes
    raw = dict(
        duckdb.connect().execute(
            "SELECT doc_id, len(string_split(text, ' ')) FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    )
    assert {r["doc_id"] for r in rows} == set(raw)
    merged_any = False
    for r in rows:
        # merges concatenate but never create or drop words
        assert r["n_words"] == raw[r["doc_id"]]
        assert 1 <= r["n_tokens"] <= r["n_words"]
        assert 0 <= r["n_merged"] <= r["n_tokens"]
        # a doc shrank iff it contains at least one merged symbol
        assert (r["n_tokens"] < r["n_words"]) == (r["n_merged"] > 0)
        assert 0.0 < r["tokens_per_word"] <= 1.0
        merged_any = merged_any or r["n_merged"] > 0
    # the learned vocab actually fires on the corpus it was trained on
    assert merged_any


def test_bpe_encode_matches_python_replay(spark, sf_dir):
    """Greedy left-to-right merge replay in pure Python, applied in
    learned rank order, must reproduce every per-doc fingerprint."""
    import hashlib

    from market_pulse_data_pipeline_spark.functions.bpe import bpe_train
    from market_pulse_data_pipeline_spark.queries.common import t

    docs = t(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=8)
    rows = QUERY_REGISTRY["bpe_encode_corpus"].spark(spark, sf_dir).collect()
    texts = dict(
        duckdb.connect().execute(
            "SELECT doc_id, text FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    )

    def apply(ws, left, right):
        out, i = [], 0
        while i < len(ws):
            if i + 1 < len(ws) and ws[i] == left and ws[i + 1] == right:
                out.append(ws[i] + " " + ws[i + 1])
                i += 2
            else:
                out.append(ws[i])
                i += 1
        return out

    for r in rows:
        ws = texts[r["doc_id"]].split(" ")
        for left, right, _ in merges:
            ws = apply(ws, left, right)
        assert r["n_tokens"] == len(ws), r["doc_id"]
        fp = hashlib.md5("|".join(ws).encode()).hexdigest()
        assert r["encoding_hash"] == fp, r["doc_id"]


def test_fertility_is_the_encode_rolled_up(spark, sf_dir):
    """The per-lang rollup must be exactly the per-doc encode grouped
    by each doc's language — two independent paths through the same
    learned vocab."""
    enc = QUERY_REGISTRY["bpe_encode_corpus"].spark(spark, sf_dir).collect()
    fert = (
        QUERY_REGISTRY["bpe_fertility_by_lang"].spark(spark, sf_dir).collect()
    )
    langs = dict(
        duckdb.connect().execute(
            "SELECT doc_id, lang FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    )
    agg: dict[str, list] = {}
    for r in enc:
        a = agg.setdefault(langs[r["doc_id"]], [0, 0, 0, 0])
        a[0] += 1
        a[1] += r["n_tokens"]
        a[2] += r["n_words"]
        a[3] += r["n_merged"]
    assert {r["lang"] for r in fert} == set(agg)
    for r in fert:
        a = agg[r["lang"]]
        assert [r["n_docs"], r["n_tokens"], r["n_words"], r["n_merged"]] == a
        assert 0.0 < r["tokens_per_word"] <= 1.0
