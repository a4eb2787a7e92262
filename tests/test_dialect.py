"""Unit tests for the Flink-SQL dialect translator and connector DDL parser
(pure Python — no Spark session needed)."""

from __future__ import annotations

import pytest

from flink_1_12_0_src_spark.plans.dialect import parse_create_table, translate_query
from flink_1_12_0_src_spark.sources.connectors import reader_config, writer_config


def test_tumble_rewrite():
    q = translate_query("SELECT 1 FROM t GROUP BY TUMBLE(ts, INTERVAL '1' DAY)")
    assert "window(ts, '1 days')" in q


def test_tumble_start_end():
    q = translate_query(
        "SELECT TUMBLE_START(ts, INTERVAL '5' MINUTE), TUMBLE_END(ts, INTERVAL '5' MINUTE) FROM t"
    )
    assert "window.start" in q and "window.end" in q


def test_hop_arg_order_swap():
    q = translate_query("GROUP BY HOP(ts, INTERVAL '12' HOUR, INTERVAL '1' DAY)")
    # Flink: (time, slide, size) → Spark: (time, size, slide)
    assert "window(ts, '1 days', '12 hours')" in q


def test_session_rewrite():
    q = translate_query(
        "SELECT SESSION_START(ts, INTERVAL '30' MINUTE) FROM t GROUP BY SESSION(ts, INTERVAL '30' MINUTE)"
    )
    assert "session_window(ts, '30 minutes')" in q
    assert "session_window.start" in q


def test_proctime():
    assert translate_query("SELECT PROCTIME() FROM t") == "SELECT current_timestamp() FROM t"


def test_passthrough_unchanged():
    q = "SELECT a, SUM(b) OVER (PARTITION BY c ORDER BY d) FROM t WHERE e IN (SELECT f FROM g)"
    assert translate_query(q) == q


def test_parse_create_table_full():
    meta = parse_create_table("""
        CREATE TABLE ev (
            id BIGINT,
            ts TIMESTAMP(3),
            v DOUBLE,
            name VARCHAR(20),
            amount DECIMAL(12,2),
            PRIMARY KEY (id) NOT ENFORCED,
            WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
        ) PARTITIONED BY (name) WITH (
            'connector' = 'filesystem',
            'path' = '/tmp/x',
            'format' = 'csv',
            'csv.field-delimiter' = '|'
        )
    """)
    assert meta["name"] == "ev"
    assert meta["schema_ddl"] == "id BIGINT, ts TIMESTAMP, v DOUBLE, name STRING, amount DECIMAL(12,2)"
    assert meta["watermark"] == ("ts", "5 seconds")
    assert meta["partition_by"] == ["name"]
    assert meta["options"]["csv.field-delimiter"] == "|"


def test_reader_config_csv():
    cfg = reader_config(
        {"connector": "filesystem", "path": "/tmp/x", "format": "csv", "csv.field-delimiter": "|"}
    )
    assert cfg["format"] == "csv"
    assert cfg["options"]["sep"] == "|"
    assert cfg["options"]["header"] == "false"


def test_reader_config_kafka_mapping():
    cfg = reader_config(
        {
            "connector": "upsert-kafka",
            "topic": "orders",
            "properties.bootstrap.servers": "h:9092",
            "scan.startup.mode": "earliest-offset",
        }
    )
    assert cfg["format"] == "kafka"
    assert cfg["options"]["subscribe"] == "orders"
    assert cfg["options"]["startingOffsets"] == "earliest"
    assert cfg["changelog_by_key"] is True


def test_writer_config_print_blackhole():
    assert writer_config({"connector": "print"})["format"] == "console"
    assert writer_config({"connector": "blackhole"})["format"] == "noop"


def test_unknown_connector_raises():
    with pytest.raises(ValueError, match="unknown connector"):
        reader_config({"connector": "martian"})


def test_match_recognize_parser():
    from flink_1_12_0_src_spark.plans.matchrec import parse_match_recognize

    kwargs = parse_match_recognize(
        """
        MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(V.event_id) AS view_id, SUM(C.value) AS total
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (V C+ P?)
          WITHIN INTERVAL '30' MINUTE
          DEFINE V AS V.event_type = 'view',
                 C AS C.event_type = 'click' AND C.value > 10,
                 P AS P.event_type = 'purchase'
        )
        """
    )
    assert kwargs["partition_by"] == ["user_id"]
    assert kwargs["order_by"] == ["ts", "event_id"]
    assert kwargs["measures"] == {
        "view_id": ("V", "first", "event_id"),
        "total": ("C", "sum", "value"),
    }
    assert kwargs["after_match"] == "next_row"
    pat = kwargs["pattern"]
    assert [s.name for s in pat.steps] == ["V", "C", "P"]
    assert [s.quantifier for s in pat.steps] == ["1", "+", "?"]
    assert pat.within_seconds == 1800

    import pandas as pd

    pdf = pd.DataFrame({"event_type": ["click", "click", "view"], "value": [5, 20, 99]})
    assert list(pat.steps[1].predicate(pdf)) == [False, True, False]


def test_table_env_catalog_statements(spark, sf_dir):
    from flink_1_12_0_src_spark.table_env import TableEnvironment

    te = TableEnvironment(spark)
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView("te_nation")
    te.execute_sql("CREATE VIEW te_big_nations AS SELECT * FROM te_nation WHERE n_regionkey = 1")
    names = [r.table_name for r in te.execute_sql("SHOW TABLES").collect()]
    assert "te_nation" in names and "te_big_nations" in names
    desc = {r.col_name: r.data_type for r in te.execute_sql("DESCRIBE te_nation").collect()}
    assert desc["n_nationkey"] in ("int", "bigint")
    plan = te.execute_sql("EXPLAIN SELECT COUNT(*) FROM te_big_nations").collect()[0].plan
    assert "HashAggregate" in plan
    assert te.sql_query("SELECT COUNT(*) AS c FROM te_big_nations").collect()[0].c == 5
    te.execute_sql("DROP VIEW te_big_nations")
    # SqlShowFunctions: registered UDFs appear alongside built-ins
    te.execute_sql(
        "CREATE TEMPORARY FUNCTION show_fn_probe AS "
        "'flink_1_12_0_src_spark.functions.scalar.price_band'"
    )
    fns = {r.function_name for r in te.execute_sql("SHOW FUNCTIONS").collect()}
    assert "show_fn_probe" in fns and len(fns) > 100


def test_match_recognize_parser_prev_and_last_navigation():
    """PREV/LAST navigation in DEFINE + SKIP TO LAST <var> — the
    MatchRecognizeITCase.scala:122-133 grammar additions."""
    import pandas as pd

    from flink_1_12_0_src_spark.operators.cep import _scan_matches
    from flink_1_12_0_src_spark.plans.matchrec import parse_match_recognize

    kwargs = parse_match_recognize(
        """
        MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY pos
          MEASURES LAST(DOWN.v) AS trough, COUNT(UP.v) AS ups
          AFTER MATCH SKIP TO LAST UP
          PATTERN (STRT DOWN+ UP+)
          DEFINE DOWN AS DOWN.v < PREV(DOWN.v), UP AS UP.v > PREV(UP.v)
        )
        """
    )
    assert kwargs["after_match"] == "to_last:UP"
    pat = kwargs["pattern"]
    # PREV compiles to a vectorized shift comparison: first row has no PREV
    pdf = pd.DataFrame({"pos": range(5), "v": [5.0, 3.0, 1.0, 2.0, 4.0]})
    assert list(pat.steps[1].predicate(pdf)) == [False, True, True, False, False]
    _, matches = _scan_matches(pdf, pat, order_by=["pos"], time_col=None)
    assert [(s, e) for _b, s, e in matches] == [(0, 4)]


def test_match_recognize_parser_last_is_null():
    """The canonical cross-variable idiom: B AS B.name = 'b' AND
    LAST(A.nullField) IS NULL (MatchRecognizeITCase.scala:122-133)."""
    import numpy as np
    import pandas as pd

    from flink_1_12_0_src_spark.operators.cep import _scan_matches
    from flink_1_12_0_src_spark.plans.matchrec import parse_match_recognize

    kwargs = parse_match_recognize(
        """
        MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY pos
          MEASURES FIRST(A.pos) AS a_pos, LAST(B.pos) AS b_pos
          PATTERN (A B)
          DEFINE A AS A.name = 'a',
                 B AS B.name = 'b' AND LAST(A.nullField) IS NULL
        )
        """
    )
    pat = kwargs["pattern"]
    assert pat.steps[1].bind_predicate is not None
    # A row with null nullField → B matches; non-null → B rejected
    pdf = pd.DataFrame(
        {"pos": range(4), "name": ["a", "b", "a", "b"],
         "nullField": [np.nan, 1.0, 7.0, np.nan]}
    )
    _, matches = _scan_matches(pdf, pat, order_by=["pos"], time_col=None)
    assert [(s, e) for _b, s, e in matches] == [(0, 1)]  # second A has non-null


def test_cep_relaxed_step_cap_warns_on_truncation():
    import warnings

    import pandas as pd

    from flink_1_12_0_src_spark.operators.cep import Pattern, _scan_matches

    # 70 b-rows after one a: relaxed step candidate list exceeds the cap of
    # 64 — must warn, not silently truncate
    pdf = pd.DataFrame({"pos": range(71), "t": ["a"] + ["b"] * 70})
    pattern = (
        Pattern.begin("x").where(lambda p: p.t == "a")
        .followed_by("y").where(lambda p: p.t == "b")
        .next("z").where(lambda p: p.t == "zzz")  # forces full backtrack
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        _scan_matches(pdf, pattern, order_by=["pos"], time_col=None)
    assert any("truncated" in str(x.message) for x in w)


def test_cep_bind_predicate_rejected_with_any_semantics():
    import pandas as pd
    import pytest as _pytest

    from flink_1_12_0_src_spark.operators.cep import Pattern, _scan_matches

    pattern = (
        Pattern.begin("A").where(lambda p: p.t == "a")
        .followed_by_any("B").where_binding(lambda p, b: p.t == "b")
    )
    pdf = pd.DataFrame({"pos": range(2), "t": ["a", "b"]})
    with _pytest.raises(ValueError, match="any-semantics"):
        _scan_matches(pdf, pattern, order_by=["pos"], time_col=None)


def test_gate_window_composition():
    """The driver verifies only the first 50 load_all() entries per round.
    Standing policy: ex-reds lead (empty on zero-red rounds), then the
    current round's new queries — no prior-green query occupies a slot while
    anything unevidenced waits. Every query carries an oracle, so the three
    ANN top-k queries, whose latest driver rows are `no_oracle`, lead the
    window as ex-reds with no CURRENT_NEW listing. The tiers are derived
    from the CORRECTNESS_r*.json artifacts, so a round rollover never
    requires editing this test."""
    from flink_1_12_0_src_spark.queries import driver_rows, gate_tiers, load_all

    registry = load_all()
    names = list(registry)
    tiers = gate_tiers(registry)
    front = tiers[0] + tiers[1] + tiers[2]
    assert names[: len(front)] == front
    # every oracle-able query has a driver row already — nothing unevidenced
    # waits outside CURRENT_NEW
    assert tiers[1] == [], tiers[1]
    # the whole front tier fits the 50-slot window with room to spare, so
    # the remaining slots re-verify greens and nothing defers this round
    assert len(front) <= 50
    assert set(names[len(front):50]) <= set(tiers[3])
    assert all(q.oracle for q in registry.values())
    ann = [n for n in names if n.startswith("knn_") and n.endswith("_topk")]
    assert len(ann) == 3
    _, latest_green = driver_rows()
    assert {n for n in ann if not latest_green.get(n)} <= set(tiers[0])


def test_statement_set_multi_sink(spark, tmp_path):
    """StatementSet (TableEnvironment.createStatementSet / StatementSet.java):
    two INSERTs into different filesystem sinks buffer, then execute as one
    call — the multi-sink job shape."""
    from flink_1_12_0_src_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    spark.createDataFrame(
        [(i, f"n{i}", i % 3) for i in range(30)], ["id", "name", "grp"]
    ).createOrReplaceTempView("src_tbl")
    for sink in ("sink_a", "sink_b"):
        env.execute_sql(f"""
            CREATE TABLE {sink} (id BIGINT, name STRING, grp BIGINT) WITH (
                'connector' = 'filesystem',
                'path' = '{tmp_path}/{sink}',
                'format' = 'parquet'
            )
        """)
    ss = env.create_statement_set()
    ss.add_insert_sql("INSERT INTO sink_a SELECT * FROM src_tbl WHERE grp = 0")
    ss.add_insert_sql("INSERT INTO sink_b SELECT * FROM src_tbl WHERE grp <> 0")
    assert ss.execute() == 2
    assert ss.execute() == 0  # buffer cleared
    a = spark.read.parquet(f"{tmp_path}/sink_a").count()
    b = spark.read.parquet(f"{tmp_path}/sink_b").count()
    assert a == 10 and b == 20
    import pytest

    with pytest.raises(ValueError):
        ss.add_insert_sql("SELECT 1")


def test_tableapi_session_and_slide_windows(spark, sf_dir):
    """Session/Slide Table API windows lower to session_window()/window()."""
    from flink_1_12_0_src_spark.catalog import table as cat_table
    from flink_1_12_0_src_spark.table_api import Session, Slide, from_dataframe

    ev = cat_table(spark, sf_dir, "events").limit(500)
    sess = (
        from_dataframe(ev)
        .window(Session.with_gap("10.minutes").on("ts").alias("w"))
        .group_by("w, event_type")
        .select("event_type, w.start AS ws, w.end AS we, event_id.count AS cnt")
        .to_df()
    )
    assert sess.count() > 0 and set(sess.columns) == {"event_type", "ws", "we", "cnt"}
    sl = (
        from_dataframe(ev)
        .window(Slide.over("1.hours").every("30.minutes").on("ts").alias("w"))
        .group_by("w")
        .select("w.start AS ws, event_id.count AS cnt")
        .to_df()
    )
    # every event lands in exactly 2 sliding windows
    total = sum(r["cnt"] for r in sl.collect())
    assert total == 2 * ev.count()


def test_tableapi_over_rows_preceding(spark, sf_dir):
    from flink_1_12_0_src_spark.catalog import table as cat_table
    from flink_1_12_0_src_spark.table_api import Over, from_dataframe

    ev = cat_table(spark, sf_dir, "events").limit(200)
    t = (
        from_dataframe(ev)
        .window(Over.partition_by("user_id").order_by("ts").preceding("2.rows").alias("ow"))
        .select("event_id, value.max over ow AS mx3")
        .to_df()
    )
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    expect = ev.select(
        "event_id",
        F.max("value").over(
            W.partitionBy("user_id").orderBy("ts").rowsBetween(-2, 0)
        ).alias("mx3"),
    )
    assert t.exceptAll(expect).count() == 0 and expect.exceptAll(t).count() == 0


def test_tableapi_window_error_paths(spark, sf_dir):
    import pytest as _pytest

    from flink_1_12_0_src_spark.catalog import table as cat_table
    from flink_1_12_0_src_spark.table_api import Over, Tumble, from_dataframe

    ev = cat_table(spark, sf_dir, "events")
    with _pytest.raises(ValueError, match="window alias"):
        from_dataframe(ev).window(Tumble.over("1.hours").on("ts").alias("w")).group_by("event_type")
    with _pytest.raises(ValueError, match="duration"):
        from_dataframe(ev).window(Tumble.over("1 hour").on("ts").alias("w")).group_by("w").select("w.start AS s").to_df()
    with _pytest.raises(ValueError, match="postfix"):
        from_dataframe(ev).window(
            Over.partition_by("user_id").order_by("ts").alias("ow")
        ).select("event_id, value + 1 over ow AS x")


def test_datastream_facade_primitives(spark, sf_dir):
    import pyspark.sql.functions as F

    from flink_1_12_0_src_spark.catalog import table as cat_table
    from flink_1_12_0_src_spark.datastream import (
        EventTimeSessionWindows,
        SlidingEventTimeWindows,
        StreamExecutionEnvironment,
    )

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    # from_collection + union + project
    a = env.from_collection([(1, "x"), (2, "y")], "id int, s string")
    b = env.from_collection([(3, "z")], "id int, s string")
    u = a.union(b).project("id").to_df()
    assert sorted(r["id"] for r in u.collect()) == [1, 2, 3]
    # min_by keeps the whole row, first on ties
    ks = env.from_collection(
        [(1, 5, 10), (1, 5, 11), (2, 7, 12)], "k int, v int, oid int"
    ).key_by("k").min_by("v", "oid").to_df()
    rows = {r["k"]: r["oid"] for r in ks.collect()}
    assert rows == {1: 10, 2: 12}
    # sliding window: every event lands in exactly size/slide windows
    ev = cat_table(spark, sf_dir, "events").limit(300)
    sl = (
        env.from_dataframe(ev)
        .key_by("event_type")
        .window(SlidingEventTimeWindows.of("1 hour", "30 minutes").on("ts"))
        .aggregate({"cnt": F.count("*")})
        .to_df()
    )
    assert sum(r["cnt"] for r in sl.collect()) == 2 * ev.count()
    # session window emits start/end columns
    se = (
        env.from_dataframe(ev)
        .key_by("user_id")
        .window(EventTimeSessionWindows.with_gap("10 minutes").on("ts"))
        .sum("value")
        .to_df()
    )
    assert {"window_start", "window_end", "user_id", "value"} <= set(se.columns)


def test_datastream_iterate_converges(spark):
    from flink_1_12_0_src_spark.datastream import StreamExecutionEnvironment

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    # Collatz loop: 12 needs 9 rounds (12,6,3,10,5,16,8,4,2,1) → all reach 1
    ds = env.from_collection([(16,), (5,), (12,)], "v long")
    out = ds.iterate(
        lambda d: d.map({"v": "CASE WHEN v % 2 = 0 THEN v div 2 WHEN v > 1 THEN 3 * v + 1 ELSE v END"}),
        max_iterations=10,
    ).to_df()
    assert sorted(int(r["v"]) for r in out.collect()) == [1, 1, 1]


def test_create_table_like_merge_strategies(spark, sf_dir):
    import pytest as _pytest

    from flink_1_12_0_src_spark.plans.dialect import parse_create_table
    from flink_1_12_0_src_spark.table_env import CatalogTable, TableEnvironment

    env = TableEnvironment(spark)
    # base registered in the catalog only (path need not exist for the merge)
    env._tables["likebase"] = CatalogTable(
        name="likebase",
        schema_ddl="a BIGINT, b STRING",
        options={"connector": "filesystem", "format": "json", "path": "/tmp/x"},
        partition_by=["b"],
        watermark=("ts", "5 seconds"),
        computed=[("c", "a + 1")],
    )
    # default strategies: OPTIONS overwrites, the rest include
    m = parse_create_table("CREATE TABLE d (extra INT) WITH ('format'='csv') LIKE likebase")
    merged = env._merge_like(m)
    assert merged["schema_ddl"] == "a BIGINT, b STRING, extra INT"
    assert merged["options"]["format"] == "csv" and merged["options"]["path"] == "/tmp/x"
    assert merged["watermark"] == ("ts", "5 seconds")
    assert merged["partition_by"] == ["b"] and dict(merged["computed"]) == {"c": "a + 1"}
    # EXCLUDING ALL keeps only the derived declaration
    m2 = parse_create_table(
        "CREATE TABLE d2 (x INT) WITH ('connector'='filesystem') LIKE likebase (EXCLUDING ALL)"
    )
    merged2 = env._merge_like(m2)
    assert merged2["options"] == {"connector": "filesystem"}
    assert merged2["watermark"] is None and merged2["partition_by"] == []
    # INCLUDING OPTIONS forbids conflicting overrides
    m3 = parse_create_table(
        "CREATE TABLE d3 (x INT) WITH ('format'='csv') LIKE likebase (INCLUDING OPTIONS)"
    )
    with _pytest.raises(ValueError, match="INCLUDING OPTIONS"):
        env._merge_like(m3)
    # INCLUDING GENERATED forbids redefining a computed column
    m4 = parse_create_table("CREATE TABLE d4 (c AS a + 2) LIKE likebase (INCLUDING GENERATED)")
    with _pytest.raises(ValueError, match="INCLUDING GENERATED"):
        env._merge_like(m4)
    # unknown base errors clearly
    m5 = parse_create_table("CREATE TABLE d5 (x INT) LIKE nope")
    with _pytest.raises(ValueError, match="not found"):
        env._merge_like(m5)


def test_create_table_like_rejects_invalid_options(spark):
    import pytest as _pytest

    from flink_1_12_0_src_spark.plans.dialect import parse_create_table

    with _pytest.raises(ValueError, match="unrecognized LIKE option"):
        parse_create_table("CREATE TABLE d (x INT) LIKE base (EXCLUDNG ALL)")
    with _pytest.raises(ValueError, match="OVERWRITING PARTITIONS"):
        parse_create_table("CREATE TABLE d (x INT) LIKE base (OVERWRITING PARTITIONS)")
    with _pytest.raises(ValueError, match="OVERWRITING ALL"):
        parse_create_table("CREATE TABLE d (x INT) LIKE base (OVERWRITING ALL)")


def test_datastream_min_by_ignores_nulls(spark):
    from flink_1_12_0_src_spark.datastream import StreamExecutionEnvironment

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    ds = env.from_collection(
        [(1, None, 9), (1, 5, 10), (2, None, 11)], "k int, v int, oid int"
    )
    rows = {r["k"]: (r["v"], r["oid"]) for r in ds.key_by("k").min_by("v", "oid").to_df().collect()}
    assert rows[1] == (5, 10)  # NULL must not win the minimum
    assert rows[2] == (None, 11)  # all-NULL key still emits its row


def test_show_views_databases_use(spark):
    import pytest as _pytest

    from flink_1_12_0_src_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    spark.range(3).createOrReplaceTempView("a_plain_view")
    views = {r["view_name"] for r in env.execute_sql("SHOW VIEWS").collect()}
    assert "a_plain_view" in views
    dbs = [r["database_name"] for r in env.execute_sql("SHOW DATABASES").collect()]
    assert dbs == ["default_database"]
    assert env.execute_sql("USE default_database") is None
    with _pytest.raises(ValueError, match="unknown database"):
        env.execute_sql("USE prod")


def test_use_catalog_statement(spark):
    import pytest as _pytest

    from flink_1_12_0_src_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    assert env.execute_sql("USE CATALOG default_catalog") is None
    with _pytest.raises(ValueError, match="unknown catalog"):
        env.execute_sql("USE CATALOG hive")
    with _pytest.raises(ValueError, match="USE needs"):
        env.execute_sql("USE")


def test_options_hint_scoped_to_query(spark, sf_dir):
    """FLIP-113 dynamic options: the hint overrides connector options for
    one query only; the catalog entry / registered view keep DDL options,
    and hints on non-connector tables are rejected."""
    import os
    import tempfile

    import pytest as _pytest

    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.table_env import TableEnvironment

    path = os.path.join(tempfile.gettempdir(), "hint_nation_semi_test")
    table(spark, sf_dir, "nation").coalesce(1).write.mode("overwrite").option(
        "sep", ";"
    ).csv(path)
    env = TableEnvironment(spark)
    env.execute_sql(f"""
        CREATE TABLE hint_nation (
            n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, n_comment STRING
        ) WITH (
            'connector' = 'filesystem', 'path' = '{path}',
            'format' = 'csv', 'csv.field-delimiter' = '|'
        )
    """)
    n = table(spark, sf_dir, "nation").count()
    hinted = env.sql_query(
        "SELECT COUNT(n_nationkey) AS k FROM hint_nation "
        "/*+ OPTIONS('csv.field-delimiter'=';') */"
    ).first()["k"]
    assert hinted == n
    # unhinted read still uses the DDL delimiter (mis-parses to NULL keys)
    assert env.sql_query("SELECT COUNT(n_nationkey) AS k FROM hint_nation").first()["k"] == 0
    with _pytest.raises(ValueError, match="connector"):
        env.sql_query("SELECT * FROM region /*+ OPTIONS('a'='b') */")
    with _pytest.raises(ValueError, match="empty OPTIONS"):
        env.sql_query("SELECT * FROM hint_nation /*+ OPTIONS() */")


def test_system_time_join_left_and_rejection(spark, sf_dir):
    """FOR SYSTEM_TIME AS OF: LEFT variant pads facts with no version; a dim
    without a WATERMARK column is rejected (Flink's own precondition)."""
    import os
    import tempfile

    import pytest as _pytest

    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.table_env import TableEnvironment

    path = os.path.join(tempfile.gettempdir(), "sysjoin_dim_test")
    ev = table(spark, sf_dir, "events")
    ev.write.mode("overwrite").parquet(path)
    env = TableEnvironment(spark)
    env.execute_sql(f"""
        CREATE TABLE dim_wm (
            event_id BIGINT, ts TIMESTAMP(3), user_id BIGINT,
            event_type STRING, `value` DOUBLE,
            WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
        ) WITH ('connector' = 'filesystem', 'path' = '{path}', 'format' = 'parquet')
    """)
    env.execute_sql(f"""
        CREATE TABLE dim_nowm (
            event_id BIGINT, ts TIMESTAMP(3), user_id BIGINT
        ) WITH ('connector' = 'filesystem', 'path' = '{path}', 'format' = 'parquet')
    """)
    ev.filter(F.col("event_type") == "purchase").createOrReplaceTempView("facts")
    inner = env.sql_query("""
        SELECT f.event_id FROM facts f
        JOIN dim_wm FOR SYSTEM_TIME AS OF f.ts AS d
          ON f.user_id = d.user_id
    """).count()
    left = env.sql_query("""
        SELECT f.event_id, d.ts AS version_ts FROM facts f
        LEFT JOIN dim_wm FOR SYSTEM_TIME AS OF f.ts AS d
          ON f.user_id = d.user_id
    """)
    n_facts = ev.filter(F.col("event_type") == "purchase").count()
    assert left.count() == n_facts >= inner
    assert left.filter(F.col("version_ts").isNull()).count() == n_facts - inner
    with _pytest.raises(ValueError, match="WATERMARK"):
        env.sql_query("""
            SELECT f.event_id FROM facts f
            JOIN dim_nowm FOR SYSTEM_TIME AS OF f.ts AS d ON f.user_id = d.user_id
        """)


def test_metadata_column_parse_and_resolution(spark, sf_dir):
    """FLIP-107: METADATA [FROM 'key'] [VIRTUAL] parses; filesystem keys
    resolve per file at read time; unknown keys are rejected."""
    import os
    import tempfile

    import pytest as _pytest

    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.plans.dialect import parse_create_table
    from flink_1_12_0_src_spark.table_env import TableEnvironment

    meta = parse_create_table("""
        CREATE TABLE t (
            a BIGINT,
            fname STRING METADATA FROM 'file.name' VIRTUAL,
            fsize BIGINT METADATA FROM 'file.size'
        ) WITH ('connector'='filesystem','path'='/x','format'='parquet')
    """)
    assert meta["metadata"] == [
        ("fname", "STRING", "file.name", True),
        ("fsize", "BIGINT", "file.size", False),
    ]
    assert meta["schema_ddl"] == "a BIGINT"

    path = os.path.join(tempfile.gettempdir(), "meta_cols_test")
    table(spark, sf_dir, "nation").repartition(3).write.mode("overwrite").parquet(path)
    env = TableEnvironment(spark)
    env.execute_sql(f"""
        CREATE TABLE nation_meta (
            n_nationkey BIGINT,
            fname STRING METADATA FROM 'file.name' VIRTUAL,
            fsize BIGINT METADATA FROM 'file.size'
        ) WITH ('connector'='filesystem','path'='{path}','format'='parquet')
    """)
    rows = env.sql_query(
        "SELECT DISTINCT fname, fsize FROM nation_meta"
    ).collect()
    assert len(rows) == 3  # one (name, size) per part file
    assert all(r["fname"].endswith(".parquet") and r["fsize"] > 0 for r in rows)
    with _pytest.raises(ValueError, match="unsupported metadata key"):
        env.execute_sql(f"""
            CREATE TABLE bad_meta (
                a BIGINT, x STRING METADATA FROM 'partition'
            ) WITH ('connector'='filesystem','path'='{path}','format'='parquet')
        """)


def test_static_partition_insert_rejects_non_partition_column(spark, tmp_path):
    import pytest as _pytest

    from flink_1_12_0_src_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    spark.createDataFrame([(1, "a")], ["id", "grp"]).createOrReplaceTempView("sp_src")
    env.execute_sql(f"""
        CREATE TABLE sp_sink (id BIGINT, grp STRING) PARTITIONED BY (grp) WITH (
            'connector' = 'filesystem', 'path' = '{tmp_path}/sp', 'format' = 'parquet'
        )
    """)
    with _pytest.raises(ValueError, match="not a partition column"):
        env.execute_sql(
            "INSERT OVERWRITE sp_sink PARTITION (id='3') SELECT 'a' AS grp FROM sp_src"
        )


def test_partition_commit_success_file_policy(spark, sf_dir, tmp_path):
    """sink.partition-commit.policy.kind='success-file' writes the (custom)
    commit marker into every written partition directory
    (FileSystemOptions.java:157-198 / PartitionCommitPolicy)."""
    import os

    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    path = f"{tmp_path}/committed"
    env.execute_sql(f"""
        CREATE TABLE commit_sink (
            event_id BIGINT, event_type STRING
        ) PARTITIONED BY (event_type) WITH (
            'connector' = 'filesystem', 'path' = '{path}', 'format' = 'parquet',
            'sink.partition-commit.policy.kind' = 'success-file',
            'sink.partition-commit.success-file.name' = '_MY_DONE'
        )
    """)
    env.execute_sql("INSERT OVERWRITE commit_sink SELECT event_id, event_type FROM events")
    parts = [d for d in os.listdir(path) if d.startswith("event_type=")]
    assert len(parts) >= 3
    for d in parts:
        assert os.path.exists(os.path.join(path, d, "_MY_DONE")), d


def test_system_time_condition_after_selection(spark):
    """TemporalRowTimeJoinOperator.java:244-246: the latest version is
    selected over ALL versions of the key FIRST; a non-key ON predicate then
    tests the SELECTED row — it must not fall back to an older version that
    would have passed."""
    import pytest as _pytest

    from flink_1_12_0_src_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    spark.createDataFrame(
        [(1, "2024-01-10 00:00:00")], "k bigint, ts string"
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts").createOrReplaceTempView("st_facts")
    import tempfile, os

    path = os.path.join(tempfile.gettempdir(), "st_cond_dim")
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "good"), (1, "2024-01-05 00:00:00", "bad")],
        "k bigint, vts string, tag string",
    ).selectExpr("k", "CAST(vts AS TIMESTAMP) AS vts", "tag").write.mode(
        "overwrite"
    ).parquet(path)
    env.execute_sql(f"""
        CREATE TABLE st_dim (
            k BIGINT, vts TIMESTAMP(3), tag STRING,
            WATERMARK FOR vts AS vts - INTERVAL '1' SECOND
        ) WITH ('connector'='filesystem','path'='{path}','format'='parquet')
    """)
    # latest version at fact time is the 'bad' one → predicate fails → no row
    inner = env.sql_query("""
        SELECT f.k FROM st_facts f
        JOIN st_dim FOR SYSTEM_TIME AS OF f.ts AS d
          ON f.k = d.k AND d.tag = 'good'
    """).collect()
    assert inner == [], "must not fall back to the older passing version"
    left = env.sql_query("""
        SELECT f.k, d.tag FROM st_facts f
        LEFT JOIN st_dim FOR SYSTEM_TIME AS OF f.ts AS d
          ON f.k = d.k AND d.tag = 'good'
    """).collect()
    assert len(left) == 1 and left[0]["tag"] is None


def test_options_hint_preserves_metadata_columns(spark, sf_dir):
    """A hinted read must rebuild the table WITH its FLIP-107 metadata
    columns (regression: the hint rebuild skipped _apply_metadata)."""
    import os
    import tempfile

    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.table_env import TableEnvironment

    path = os.path.join(tempfile.gettempdir(), "hint_meta_combo")
    table(spark, sf_dir, "nation").coalesce(1).write.mode("overwrite").option(
        "sep", ";"
    ).csv(path)
    env = TableEnvironment(spark)
    env.execute_sql(f"""
        CREATE TABLE hint_meta_tbl (
            n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, n_comment STRING,
            fname STRING METADATA FROM 'file.name' VIRTUAL
        ) WITH ('connector'='filesystem','path'='{path}',
                'format'='csv','csv.field-delimiter'='|')
    """)
    rows = env.sql_query(
        "SELECT n_nationkey, fname FROM hint_meta_tbl "
        "/*+ OPTIONS('csv.field-delimiter'=';') */ WHERE n_nationkey IS NOT NULL"
    ).collect()
    assert rows and all(r["fname"].endswith(".csv") for r in rows)


def test_system_time_sql_equals_asof_operator(spark, tmp_path):
    """Cross-validation: the FOR SYSTEM_TIME SQL lowering and the
    independent union-window as-of operator (operators/joins.py asof_join)
    must agree on seeded random fact/version tables."""
    import os
    import random

    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.operators.joins import asof_join
    from flink_1_12_0_src_spark.table_env import TableEnvironment

    for seed in (3, 11, 27):
        rng = random.Random(seed)
        facts = [
            (k, f"2024-01-{rng.randint(1, 28):02d} {rng.randint(0, 23):02d}:00:00", i)
            for i, k in enumerate(rng.choices(range(6), k=40))
        ]
        vers = [
            (k, f"2024-01-{rng.randint(1, 28):02d} {rng.randint(0, 23):02d}:30:00", float(j))
            for j, k in enumerate(rng.choices(range(6), k=25))
        ]
        fdf = spark.createDataFrame(facts, "k bigint, ts string, fid bigint").selectExpr(
            "k", "CAST(ts AS TIMESTAMP) AS ts", "fid"
        )
        vdf = spark.createDataFrame(vers, "k bigint, vts string, setting double").selectExpr(
            "k", "CAST(vts AS TIMESTAMP) AS vts", "setting"
        )
        # de-dup version timestamps per key (both formulations assume a
        # single version per (key, version_ts))
        vdf = vdf.groupBy("k", "vts").agg({"setting": "max"}).withColumnRenamed(
            "max(setting)", "setting"
        )
        path = os.path.join(str(tmp_path), f"st_xval_{seed}")
        vdf.write.mode("overwrite").parquet(path)
        env = TableEnvironment(spark)
        env.execute_sql(f"""
            CREATE TABLE xval_dim_{seed} (
                k BIGINT, vts TIMESTAMP(3), setting DOUBLE,
                WATERMARK FOR vts AS vts - INTERVAL '1' SECOND
            ) WITH ('connector'='filesystem','path'='{path}','format'='parquet')
        """)
        fdf.createOrReplaceTempView(f"xval_facts_{seed}")
        sql_rows = sorted(
            map(
                tuple,
                env.sql_query(f"""
                    SELECT f.fid, d.vts AS version_ts, d.setting
                    FROM xval_facts_{seed} f
                    LEFT JOIN xval_dim_{seed} FOR SYSTEM_TIME AS OF f.ts AS d
                      ON f.k = d.k
                """).select("fid", "version_ts", "setting").collect(),
            )
        )
        op_rows = sorted(
            map(
                tuple,
                asof_join(fdf, vdf, on=["k"], left_time="ts", right_time="vts")
                .select("fid", F.col("vts").alias("version_ts"), "setting")
                .collect(),
            )
        )
        assert sql_rows == op_rows, f"seed {seed}"


def test_set_reset_session_properties(spark):
    """SET / RESET (SqlCommandParser.java:310-322): properties store and
    list; mapped keys drive live confs; RESET restores originals."""
    from flink_1_12_0_src_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert env.execute_sql("SET table.exec.resource.default-parallelism = 7") is None
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        env.execute_sql("SET sql-client.execution.result-mode = table")
        rows = {r["key"]: r["value"] for r in env.execute_sql("SET").collect()}
        assert rows == {
            "table.exec.resource.default-parallelism": "7",
            "sql-client.execution.result-mode": "table",
        }
        assert env.execute_sql("RESET") is None
        assert spark.conf.get("spark.sql.shuffle.partitions") == orig
        assert env.execute_sql("SET").count() == 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


def test_show_catalogs_modules_current(spark):
    from flink_1_12_0_src_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    assert [r[0] for r in env.execute_sql("SHOW CATALOGS").collect()] == ["default_catalog"]
    assert [r[0] for r in env.execute_sql("SHOW CURRENT CATALOG").collect()] == ["default_catalog"]
    assert [r[0] for r in env.execute_sql("SHOW CURRENT DATABASE").collect()] == ["default_database"]
    assert [r[0] for r in env.execute_sql("SHOW MODULES").collect()] == ["core"]


def test_stream_table_resolves_metadata_columns(spark, sf_dir, tmp_path):
    """stream_table applies FLIP-107 metadata columns on the streaming read
    path too (not just the batch view)."""
    import os

    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.table_env import TableEnvironment

    path = f"{tmp_path}/stream_meta"
    table(spark, sf_dir, "events").limit(200).coalesce(2).write.mode(
        "overwrite"
    ).parquet(path)
    env = TableEnvironment(spark)
    env.execute_sql(f"""
        CREATE TABLE ev_stream_meta (
            event_id BIGINT, ts TIMESTAMP(3), user_id BIGINT,
            fname STRING METADATA FROM 'file.name' VIRTUAL,
            WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
        ) WITH ('connector'='filesystem','path'='{path}','format'='parquet')
    """)
    s = env.stream_table("ev_stream_meta")
    assert "fname" in s.columns and s.isStreaming
    from flink_1_12_0_src_spark.streaming.run import run_to_batch

    out = run_to_batch(s.select("event_id", "fname"), "append")
    rows = out.collect()
    assert rows and all(r["fname"].endswith(".parquet") for r in rows)


def test_group_window_translation_sweep_vs_duckdb(spark, sf_dir):
    """Differential sweep of the TUMBLE/HOP interval translation: every
    (unit, size) combination must bucket identically to DuckDB's
    time_bucket over the same events — broad protection for the
    interval-unit conversion table, not just the single configs the
    registry queries pin."""
    import duckdb

    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.table_env import TableEnvironment

    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    env = TableEnvironment(spark)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    combos = [("SECOND", 30), ("MINUTE", 5), ("MINUTE", 90), ("HOUR", 12), ("DAY", 2)]
    for unit, size in combos:
        srows = sorted(
            tuple(str(v) for v in r)
            for r in env.sql_query(f"""
                SELECT TUMBLE_START(ts, INTERVAL '{size}' {unit}) AS ws,
                       COUNT(*) AS cnt
                FROM events GROUP BY TUMBLE(ts, INTERVAL '{size}' {unit})
            """).collect()
        )
        orows = sorted(
            tuple(str(v) for v in r)
            for r in con.execute(f"""
                -- origin-match Spark/Flink's epoch-aligned buckets (DuckDB's
                -- default multi-day origin is 2000-01-03)
                SELECT time_bucket(INTERVAL '{size}' {unit}, ts, TIMESTAMP '1970-01-01') AS ws,
                       COUNT(*) AS cnt
                FROM events GROUP BY 1
            """).fetchall()
        )
        assert srows == orows, f"TUMBLE {size} {unit}"
    # HOP: slide divides size; every row lands in size/slide windows
    for unit, slide, size in [("MINUTE", 15, 60), ("HOUR", 6, 24)]:
        total = spark.sql("SELECT COUNT(*) c FROM events").first()["c"]
        hop_sum = env.sql_query(f"""
            SELECT SUM(cnt) AS s FROM (
              SELECT HOP(ts, INTERVAL '{slide}' {unit}, INTERVAL '{size}' {unit}),
                     COUNT(*) AS cnt
              FROM events GROUP BY HOP(ts, INTERVAL '{slide}' {unit}, INTERVAL '{size}' {unit})
            )
        """).first()["s"]
        assert hop_sum == total * (size // slide), f"HOP {slide}/{size} {unit}"


def test_show_partitions(spark, sf_dir, tmp_path):
    """SqlShowPartitions: one row per hive-style partition directory of a
    partitioned catalog table; non-partitioned tables are rejected."""
    import pytest as _pytest

    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    env.execute_sql(f"""
        CREATE TABLE part_show_sink (id BIGINT, event_type STRING)
        PARTITIONED BY (event_type) WITH (
            'connector' = 'filesystem', 'path' = '{tmp_path}/ps', 'format' = 'parquet'
        )
    """)
    env.execute_sql("INSERT OVERWRITE part_show_sink SELECT event_id, event_type FROM events")
    parts = [r["partition_name"] for r in env.execute_sql("SHOW PARTITIONS part_show_sink").collect()]
    assert len(parts) >= 3 and all(p.startswith("event_type=") for p in parts)
    env.execute_sql(f"""
        CREATE TABLE unpart_sink (id BIGINT) WITH (
            'connector' = 'filesystem', 'path' = '{tmp_path}/up', 'format' = 'parquet'
        )
    """)
    with _pytest.raises(ValueError, match="not a partitioned"):
        env.execute_sql("SHOW PARTITIONS unpart_sink")


def test_describe_catalog_and_database(spark):
    import pytest as _pytest

    from flink_1_12_0_src_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    c = {r[0]: r[1] for r in env.execute_sql("DESCRIBE CATALOG default_catalog").collect()}
    assert c["default database"] == "default_database"
    d = {r[0]: r[1] for r in env.execute_sql("DESC DATABASE default_database").collect()}
    assert d["catalog"] == "default_catalog"
    with _pytest.raises(ValueError, match="unknown catalog"):
        env.execute_sql("DESCRIBE CATALOG hive")


def test_create_use_drop_catalog_and_database(spark):
    """SqlCreateCatalog / SqlCreateDatabase / USE / DROP over the in-memory
    registry: create, switch current, list, and protected drops."""
    import pytest as _pytest

    from flink_1_12_0_src_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("CREATE CATALOG mem2 WITH ('type' = 'generic_in_memory')")
    env.execute_sql("CREATE DATABASE analytics")
    env.execute_sql("CREATE DATABASE IF NOT EXISTS analytics")
    with _pytest.raises(ValueError, match="already exists"):
        env.execute_sql("CREATE DATABASE analytics")
    with _pytest.raises(ValueError, match="unsupported catalog type"):
        env.execute_sql("CREATE CATALOG h WITH ('type' = 'hive')")
    assert [r[0] for r in env.execute_sql("SHOW CATALOGS").collect()] == [
        "default_catalog", "mem2",
    ]
    assert "analytics" in [r[0] for r in env.execute_sql("SHOW DATABASES").collect()]
    env.execute_sql("USE CATALOG mem2")
    assert env.execute_sql("SHOW CURRENT CATALOG").first()[0] == "mem2"
    env.execute_sql("USE analytics")
    assert env.execute_sql("SHOW CURRENT DATABASE").first()[0] == "analytics"
    with _pytest.raises(ValueError, match="current"):
        env.execute_sql("DROP DATABASE analytics")
    env.execute_sql("USE default_database")
    env.execute_sql("DROP DATABASE analytics")
    assert "analytics" not in [r[0] for r in env.execute_sql("SHOW DATABASES").collect()]
    with _pytest.raises(ValueError, match="default/current"):
        env.execute_sql("DROP CATALOG mem2")  # still the current catalog
    env.execute_sql("USE CATALOG default_catalog")
    env.execute_sql("DROP CATALOG mem2")


def test_drop_catalog_database_if_exists(spark):
    """DROP CATALOG/DATABASE [IF EXISTS] must hit the registry branch, never
    fall through to the table-drop path (which would silently drop a temp
    view of the same name); unknown names error without IF EXISTS."""
    import pytest as _pytest

    from flink_1_12_0_src_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("CREATE CATALOG memx WITH ('type' = 'generic_in_memory')")
    env.execute_sql("CREATE DATABASE dbx")
    # a same-named temp view must survive the catalog/database drops
    spark.range(1).createOrReplaceTempView("memx")
    spark.range(1).createOrReplaceTempView("dbx")
    env.execute_sql("DROP CATALOG IF EXISTS memx")
    env.execute_sql("DROP DATABASE IF EXISTS dbx")
    assert "memx" not in [r[0] for r in env.execute_sql("SHOW CATALOGS").collect()]
    assert "dbx" not in [r[0] for r in env.execute_sql("SHOW DATABASES").collect()]
    assert spark.table("memx").count() == 1 and spark.table("dbx").count() == 1
    env.execute_sql("DROP CATALOG IF EXISTS memx")  # idempotent
    env.execute_sql("DROP DATABASE IF EXISTS dbx")
    with _pytest.raises(ValueError, match="unknown catalog"):
        env.execute_sql("DROP CATALOG memx")
    with _pytest.raises(ValueError, match="unknown database"):
        env.execute_sql("DROP DATABASE dbx")
    with _pytest.raises(ValueError, match="unsupported DROP"):
        env.execute_sql("DROP SOMETHING weird x")
    spark.catalog.dropTempView("memx")
    spark.catalog.dropTempView("dbx")


def test_alter_view_rename_and_redefine(spark, sf_dir):
    """SqlAlterViewRename / SqlAlterViewAs: rename moves the temp view;
    AS swaps the definition in place."""
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    table(spark, sf_dir, "nation").createOrReplaceTempView("av_nation")
    env.execute_sql("CREATE VIEW av_v AS SELECT n_nationkey FROM av_nation WHERE n_regionkey = 1")
    n1 = spark.table("av_v").count()
    env.execute_sql("ALTER VIEW av_v RENAME TO av_v2")
    assert spark.table("av_v2").count() == n1
    assert "av_v" not in {t.name for t in spark.catalog.listTables()}
    env.execute_sql("ALTER VIEW av_v2 AS SELECT n_nationkey FROM av_nation")
    assert spark.table("av_v2").count() == spark.table("av_nation").count()


def test_alter_drop_function_and_alter_database(spark):
    from flink_1_12_0_src_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql(
        "CREATE TEMPORARY FUNCTION adf_probe AS "
        "'flink_1_12_0_src_spark.functions.scalar.price_band'"
    )
    # ALTER re-registers under the same name without error
    env.execute_sql(
        "ALTER TEMPORARY FUNCTION adf_probe AS "
        "'flink_1_12_0_src_spark.functions.scalar.price_band'"
    )
    env.execute_sql("DROP TEMPORARY FUNCTION adf_probe")
    fns = {r.function_name for r in env.execute_sql("SHOW FUNCTIONS").collect()}
    assert "adf_probe" not in fns
    env.execute_sql("CREATE DATABASE adb")
    env.execute_sql("ALTER DATABASE adb SET ('owner' = 'etl')")
    assert env._db_props["adb"] == {"owner": "etl"}


def test_table_api_execute_insert(spark, sf_dir, tmp_path):
    """Table.executeInsert parity: a fluent-API result writes through the
    environment's INSERT path into a catalog sink and reads back."""
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.table_api import from_dataframe
    from flink_1_12_0_src_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql(f"""
        CREATE TABLE tapi_sink (n_regionkey BIGINT, n_cnt BIGINT) WITH (
            'connector' = 'filesystem', 'path' = '{tmp_path}/tapi', 'format' = 'parquet'
        )
    """)
    t = (
        from_dataframe(table(spark, sf_dir, "nation"))
        .group_by("n_regionkey")
        .select("n_regionkey, n_nationkey.count AS n_cnt")
    )
    t.execute_insert(env, "tapi_sink", overwrite=True)
    got = {
        (r["n_regionkey"], r["n_cnt"])
        for r in env.sql_query("SELECT * FROM tapi_sink").collect()
    }
    want = {
        (r["n_regionkey"], r["cnt"])
        for r in table(spark, sf_dir, "nation")
        .groupBy("n_regionkey").count().withColumnRenamed("count", "cnt").collect()
    }
    assert got == want


def test_table_api_explain(spark, sf_dir):
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.table_api import from_dataframe

    plan = (
        from_dataframe(table(spark, sf_dir, "nation"))
        .group_by("n_regionkey")
        .select("n_regionkey, n_nationkey.count AS c")
        .explain()
    )
    assert "HashAggregate" in plan and "Physical Plan" in plan


def test_compact_sink_crash_recovery_same_pass(spark, tmp_path):
    """A crash between _compact_sink's two renames leaves data only under
    <dir>__compact_old. The next compaction pass must (a) restore it —
    including for the table ROOT itself, whose stranded twin is a sibling
    outside any walk of root — and (b) compact the restored directory in the
    SAME pass, not the next one."""
    import os

    from flink_1_12_0_src_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    root = str(tmp_path / "tbl")
    spark.range(100).repartition(4).write.parquet(root)
    n_rows = 100
    # simulate the crash: first rename done, second never happened
    os.rename(root, root + "__compact_old")
    cfg = {"path": root, "format": "parquet", "options": {},
           "compaction_file_size": 10**9}
    env._compact_sink(None, cfg)
    assert os.path.isdir(root) and not os.path.isdir(root + "__compact_old")
    files = [f for f in os.listdir(root) if not f.startswith(("_", "."))]
    assert len(files) == 1, f"restored dir must compact in the same pass: {files}"
    assert spark.read.parquet(root).count() == n_rows

    # partitioned variant: stranded partition dir inside root
    proot = str(tmp_path / "ptbl")
    spark.range(100).withColumnRenamed("id", "v").selectExpr(
        "v", "v % 2 AS p"
    ).repartition(4).write.partitionBy("p").parquet(proot)
    os.rename(os.path.join(proot, "p=1"), os.path.join(proot, "p=1__compact_old"))
    env._compact_sink(None, {"path": proot, "format": "parquet", "options": {},
                             "compaction_file_size": 10**9})
    assert os.path.isdir(os.path.join(proot, "p=1"))
    for part in ("p=0", "p=1"):
        fs = [f for f in os.listdir(os.path.join(proot, part))
              if not f.startswith(("_", "."))]
        assert len(fs) == 1, (part, fs)
    assert spark.read.parquet(proot).count() == 100


def test_datagen_bounded_variants(spark):
    """Bounded datagen: number-of-rows caps a random table; a sequence field
    shorter than number-of-rows exhausts first (SequenceGenerator ends the
    source); random min/max/length options are honored."""
    from flink_1_12_0_src_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("""
        CREATE TABLE gen_nrows (id BIGINT, name STRING) WITH (
            'connector' = 'datagen',
            'number-of-rows' = '77',
            'fields.id.min' = '5',
            'fields.id.max' = '9',
            'fields.name.length' = '10'
        )
    """)
    rows = spark.table("gen_nrows").collect()
    assert len(rows) == 77
    assert all(5 <= r["id"] <= 9 for r in rows)
    assert all(len(r["name"]) == 10 for r in rows)

    env.execute_sql("""
        CREATE TABLE gen_mixed (id BIGINT, v DOUBLE) WITH (
            'connector' = 'datagen',
            'number-of-rows' = '100',
            'fields.id.kind' = 'sequence',
            'fields.id.start' = '1',
            'fields.id.end' = '40'
        )
    """)
    assert spark.table("gen_mixed").count() == 40  # sequence exhausts first

    # mixed sequence+random WITHOUT number-of-rows is still bounded — the
    # exhausted sequence ends the whole source (DataGenTableSource semantics)
    env.execute_sql("""
        CREATE TABLE gen_mixed2 (id BIGINT, v DOUBLE) WITH (
            'connector' = 'datagen',
            'fields.id.kind' = 'sequence',
            'fields.id.start' = '10',
            'fields.id.end' = '29'
        )
    """)
    rows = spark.table("gen_mixed2").collect()
    assert sorted(r["id"] for r in rows) == list(range(10, 30))
    assert all(isinstance(r["v"], float) for r in rows)

    # unbounded random datagen stays streaming-only: no batch view, and the
    # stream must carry the DECLARED schema, not rate's (timestamp, value)
    env.execute_sql("""
        CREATE TABLE gen_unbounded (id BIGINT, name STRING)
        WITH ('connector' = 'datagen', 'fields.name.length' = '5')
    """)
    assert "gen_unbounded" not in {t.name for t in spark.catalog.listTables()}
    sdf = env.stream_table("gen_unbounded")
    assert sdf.isStreaming and sdf.columns == ["id", "name"]
    assert dict(sdf.dtypes) == {"id": "bigint", "name": "string"}


def test_module_registry_semantics(spark):
    """ModuleManager parity: LOAD order is resolution order, duplicate load
    and unknown unload raise, core is unloadable like any module."""
    import pytest as _pytest

    from flink_1_12_0_src_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    assert env.list_modules() == ["core"]
    env.load_module("a", object())
    env.load_module("b", object())
    assert env.list_modules() == ["core", "a", "b"]
    with _pytest.raises(ValueError, match="already"):
        env.load_module("a", object())
    env.unload_module("a")
    assert env.list_modules() == ["core", "b"]
    with _pytest.raises(ValueError, match="No module"):
        env.unload_module("a")
    env.unload_module("core")  # reference allows it (ModuleManager.java)
    assert env.list_modules() == ["b"]
