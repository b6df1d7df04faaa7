"""Edge-case unit tests for queries/quality.py, queries/formats.py and
queries/incremental.py (the oracle gate checks fixture-wide equality;
these pin the per-rule semantics on crafted inputs)."""

from __future__ import annotations

import datetime
from decimal import ROUND_HALF_UP, Decimal
from fractions import Fraction

import duckdb
import pytest
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.incremental import (
    _DV_CUST_MOD,
    _DV_DEL_MOD,
    _DV_FILES,
    _DV_ORD_MOD,
    _ER_MOD,
    _TV_ALERT_DEN,
    _TV_ALERT_NUM,
    _TV_BUCKET,
    _TV_DROP_MOD,
    _TV_GROW,
    _TV_GROW_MOD,
)


def test_quality_rules_on_crafted_docs(spark):
    from market_pulse_data_pipeline_spark.queries.quality import (
        _MIN_WORDS,
    )

    rows = [
        # too short → rule_len False
        (1, "en", "web", "a b c"),
        # long enough, has stopword, sane word lengths → keep
        (2, "en", "web", " ".join(["the"] + ["word"] * _MIN_WORDS)),
        # long enough but no stopword → keep False via rule_stopword
        (3, "en", "web", " ".join(["word"] * (_MIN_WORDS + 1))),
        # absurd mean word length → rule_wlen False
        (4, "en", "web", " ".join(["x" * 30] * (_MIN_WORDS + 1)) + " the"),
    ]
    df = spark.createDataFrame(
        [(i, lang, src, txt, len(txt)) for i, lang, src, txt in rows],
        "doc_id long, lang string, source string, text string, n_chars long",
    )
    from market_pulse_data_pipeline_spark.queries import quality as q

    # point the module's table loader at the crafted frame
    orig = q.t
    try:
        q.t = lambda s, d, n: df  # noqa: ARG005
        out = {
            r["doc_id"]: r
            for r in q.corpus_quality_filter(spark, "ignored").collect()
        }
    finally:
        q.t = orig
    assert not out[1]["rule_len"] and not out[1]["keep"]
    assert out[2]["keep"]
    assert not out[3]["rule_stopword"] and not out[3]["keep"]
    assert not out[4]["rule_wlen"] and not out[4]["keep"]


def test_pii_redact_semantics(spark):
    df = spark.createDataFrame(
        [(1, "contact me at jane.doe@example.com or 1234567 now")],
        "doc_id long, text string",
    )
    from market_pulse_data_pipeline_spark.queries.quality import (
        _PII_EMAIL,
        _PII_ID,
    )

    after_email = F.regexp_replace("text", _PII_EMAIL, "[EMAIL]")
    redacted = F.regexp_replace(after_email, _PII_ID, "[ID]")
    row = df.select(redacted.alias("r")).head()
    assert row["r"] == "contact me at [EMAIL] or [ID] now"


def test_csv_roundtrip_quoting(spark, tmp_path):
    path = str(tmp_path / "csv")
    src = spark.createDataFrame(
        [(1, 'say "hi", ok'), (2, "plain"), (3, "comma, inside")],
        "k long, s string",
    )
    src.write.option("header", True).csv(path)
    back = (
        spark.read.schema("k long, s string").option("header", True).csv(path)
    )
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in src.collect()}


def test_incremental_merge_equals_full(spark):
    from market_pulse_data_pipeline_spark.queries import all_queries

    sf = "/root/testdata/sf0.001"
    merged = all_queries()["incremental_agg_maintenance"].spark(spark, sf)
    from market_pulse_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf, "events")
    full = (
        ev.groupBy(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)"))
            .cast("double")
            .alias("value_sum"),
        )
    )
    assert {tuple(r) for r in merged.collect()} == {
        tuple(r) for r in full.collect()
    }


def test_gapfill_covers_span_and_fills(spark):
    base = datetime.datetime(2025, 1, 1)
    rows = [
        (1, base, 10.0),
        (1, base + datetime.timedelta(days=3), 20.0),  # gap of 2 days
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    daily = df.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.sum("value").alias("day_value"))
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias(
            "day"
        ),
    )
    from pyspark.sql import Window

    joined = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        joined.select(
            "user_id",
            "day",
            F.last("day_value", ignorenulls=True).over(w).alias("v"),
        )
        .orderBy("day")
        .collect()
    )
    assert len(out) == 4  # full calendar span
    assert [r["v"] for r in out] == [10.0, 10.0, 10.0, 20.0]  # ffill


def test_join_hints_select_intended_strategy(spark):
    from market_pulse_data_pipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    expected_node = {
        "broadcast": "BroadcastHashJoin",
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
        "shuffle_replicate_nl": "CartesianProduct",
    }
    for hint, node in expected_node.items():
        j = li.join(orders.hint(hint), li.l_orderkey == orders.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert node in plan, f"{hint}: expected {node} in plan:\n{plan[:800]}"


# --------------------------------------------------------------------
# delta_join_view_maintenance
# --------------------------------------------------------------------


def test_quadrants_partition_exactly(sf_dir):
    """The four-quadrant identity is only exact if the splits are a
    true disjoint partition AND every quadrant contributes: quadrant
    join counts must sum to the monolithic join count."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf_dir}/orders.parquet')"
    )
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{sf_dir}/customer.parquet')"
    )
    quad = """
    SELECT COUNT(*) FROM orders o JOIN customer c
      ON o.o_custkey = c.c_custkey
    WHERE (o.o_orderkey % {om} {oop} 0) AND (c.c_custkey % {cm} {cop} 0)
    """
    counts = [
        con.execute(
            quad.format(
                om=_DV_ORD_MOD, cm=_DV_CUST_MOD, oop=oop, cop=cop
            )
        ).fetchone()[0]
        for oop, cop in (
            ("<>", "<>"),  # A0 ⋈ B0 (bootstrap)
            ("=", "<>"),  # ΔA ⋈ B0
            ("<>", "="),  # A0 ⋈ ΔB
            ("=", "="),  # ΔA ⋈ ΔB
        )
    ]
    total = con.execute(
        "SELECT COUNT(*) FROM orders o JOIN customer c "
        "ON o.o_custkey = c.c_custkey"
    ).fetchone()[0]
    assert all(c > 0 for c in counts), counts  # every quadrant real
    assert sum(counts) == total


def test_delta_view_totals(spark, sf_dir):
    """The incrementally-maintained view's grand totals equal the
    monolithic recompute's (per-group equality is the oracle gate)."""
    rows = (
        QUERY_REGISTRY["delta_join_view_maintenance"].spark(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    for t in ("orders", "customer", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    n_total = con.execute(
        "SELECT COUNT(*) FROM orders o JOIN customer c "
        "ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey"
    ).fetchone()[0]
    assert sum(r.n_orders for r in rows) == n_total
    assert len(rows) <= 25 and rows == sorted(rows, key=lambda r: r.n_name)


# --------------------------------------------------------------------
# tv_distance_source_drift
# --------------------------------------------------------------------


def _tv_replay(sf_dir: str) -> dict[str, tuple[int, int, int, Fraction]]:
    """Engine-free replay: source -> (n_old, n_new, n_buckets, TV as an
    exact Fraction)."""
    rows = duckdb.sql(
        f"SELECT doc_id, source, n_chars FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    old_h: dict[tuple[str, int], int] = {}
    new_h: dict[tuple[str, int], int] = {}
    for doc_id, source, n_chars in rows:
        old_h[(source, n_chars // _TV_BUCKET)] = (
            old_h.get((source, n_chars // _TV_BUCKET), 0) + 1
        )
        if doc_id % _TV_DROP_MOD != 0:
            nc = (
                n_chars + _TV_GROW
                if doc_id % _TV_GROW_MOD == 0
                else n_chars
            )
            new_h[(source, nc // _TV_BUCKET)] = (
                new_h.get((source, nc // _TV_BUCKET), 0) + 1
            )
    out = {}
    sources = {s for s, _ in old_h} | {s for s, _ in new_h}
    for s in sources:
        buckets = {b for s2, b in old_h if s2 == s} | {
            b for s2, b in new_h if s2 == s
        }
        n = sum(old_h.get((s, b), 0) for b in buckets)
        m = sum(new_h.get((s, b), 0) for b in buckets)
        num = sum(
            abs(old_h.get((s, b), 0) * m - new_h.get((s, b), 0) * n)
            for b in buckets
        )
        out[s] = (n, m, len(buckets), Fraction(num, 2 * n * m))
    return out


@pytest.fixture(scope="module")
def tv_rows(spark, sf_dir):
    return QUERY_REGISTRY["tv_distance_source_drift"].spark(spark, sf_dir).collect()


def test_tv_replay_exact(tv_rows, sf_dir):
    expect = _tv_replay(sf_dir)
    assert {r.source for r in tv_rows} == set(expect)
    for r in tv_rows:
        n, m, n_buckets, tv = expect[r.source]
        assert (r.n_old, r.n_new, r.n_buckets) == (n, m, n_buckets)
        # the alert is the EXACT cross-multiplied comparison — replay it
        # on the unrounded Fraction, never on the displayed double
        assert r.drift_alert == (
            tv > Fraction(_TV_ALERT_NUM, _TV_ALERT_DEN)
        ), r.source
        assert abs(r.tv_distance - float(tv)) < 5e-5, r.source
        assert 0 <= r.tv_distance <= 1


def test_tv_snapshot_edit_honored(tv_rows, sf_dir):
    """The synthetic new snapshot drops every 31st doc: per-source
    totals must reflect exactly that removal."""
    drops = dict(
        duckdb.sql(
            f"SELECT source, COUNT(*) FILTER (doc_id % {_TV_DROP_MOD} = 0) "
            f"FROM read_parquet('{sf_dir}/documents.parquet') GROUP BY 1"
        ).fetchall()
    )
    for r in tv_rows:
        assert r.n_new == r.n_old - drops[r.source], r.source


# --------------------------------------------------------------------
# deletion_vector_scan
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def dv_rows(spark, sf_dir):
    return QUERY_REGISTRY["deletion_vector_scan"].spark(spark, sf_dir).collect()


def test_dv_replay_exact(dv_rows, sf_dir):
    rows = duckdb.sql(
        f"SELECT l_orderkey, l_linenumber, l_quantity FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchall()
    agg: dict[int, list] = {}
    for ok, ln, qty in rows:
        fid = ok % _DV_FILES
        a = agg.setdefault(fid, [0, 0, 0, Decimal(0)])
        a[0] += 1
        if (7 * ok + ln) % _DV_DEL_MOD == 0:
            a[1] += 1
        else:
            a[2] += 1
            a[3] += Decimal(repr(qty)).quantize(Decimal("0.01"))
    assert {r.file_id for r in dv_rows} == set(agg)
    for r in dv_rows:
        n_total, n_deleted, n_live, qty = agg[r.file_id]
        assert (r.n_total, r.n_deleted, r.n_live) == (
            n_total,
            n_deleted,
            n_live,
        ), r.file_id
        expect_qty = float(
            qty.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
        )
        assert abs(r.live_qty_sum - expect_qty) < 1e-9, r.file_id


def test_dv_accounting_identity(dv_rows):
    """The MoR invariant a compaction scheduler relies on: every base
    row is exactly one of live / deleted, per file, and deletes exist
    (the DV is exercised, not vacuously empty)."""
    assert sum(r.n_deleted for r in dv_rows) > 0
    for r in dv_rows:
        assert r.n_live + r.n_deleted == r.n_total, r.file_id


def test_dv_read_is_an_anti_join(spark, sf_dir):
    """The read path must BE the DV shape — a broadcast anti-join on
    the row address — not a rewritten filter (that would witness
    copy-on-write, not merge-on-read)."""
    df = QUERY_REGISTRY["deletion_vector_scan"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


# --------------------------------------------------------------------
# user_erasure_cascade
# --------------------------------------------------------------------


def test_erasure_accounting(spark, sf_dir):
    rows = {
        r.table_name: r
        for r in QUERY_REGISTRY["user_erasure_cascade"].spark(spark, sf_dir).collect()
    }
    assert set(rows) == {"events", "user_event_type_agg", "user_profile"}
    ev = duckdb.sql(
        f"SELECT user_id, event_type FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    erased_users = {u for u, _ in ev if u % _ER_MOD == 0}
    assert len(erased_users) >= 2, "fixture lost its erasure targets"
    # per-table replay
    kept = [(u, t) for u, t in ev if u % _ER_MOD != 0]
    expect = {
        "events": (len(ev), len(kept)),
        "user_event_type_agg": (len(set(ev)), len(set(kept))),
        "user_profile": (
            len({u for u, _ in ev}),
            len({u for u, _ in kept}),
        ),
    }
    for name, (nb, na) in expect.items():
        r = rows[name]
        assert (r.n_before, r.n_after) == (nb, na), name
        assert r.n_removed == nb - na and r.n_removed > 0, name
        # the compliance bit: NO erased-user row survives anywhere
        assert r.n_orphans_after == 0, name
