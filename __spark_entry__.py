"""Driver contract: entry / queries / oracle_sql.

Each ``queries()`` entry is an operator of the engine (SURVEY.md §2 [REF] +
[NORTH] + training-data ops) expressed Spark-first; each ``oracle_sql()``
entry is an independent ANSI-SQL formulation DuckDB runs over the same
parquet views. Parity rules used throughout (see kafka2iceberg_spark/*.py):

  * timestamps: testdata parquet is TIMESTAMP_NTZ; every query pins the
    session TZ to UTC and casts, then emits epoch-microsecond BIGINTs —
    engine-neutral values.
  * hashes: md5-hex-prefix integers (portable); no engine-native hash().
  * floats: double sums via ordered left-folds or exact decimal
    intermediates; one final division; round to fixed decimals.
  * every aggregate/computed column aliased identically on both sides.

Queries without an oracle entry (streaming E2E, LSH ANN) are genuinely
non-SQL-expressible (stateful streaming semantics / 2k hyperplane literals);
they get the driver's rows-only check and full pytest coverage instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka2iceberg_spark import cep
from kafka2iceberg_spark import dedup as dd
from kafka2iceberg_spark import multimodal as mm
from kafka2iceberg_spark import similarity as sim
from kafka2iceberg_spark import sketches as sk
from kafka2iceberg_spark import textops as tx
from kafka2iceberg_spark import timeseries as ts
from kafka2iceberg_spark import windows as win
from kafka2iceberg_spark.config import FieldSpec, TaskSpec
from kafka2iceberg_spark.state import paired_turns_batch
from kafka2iceberg_spark.transcripts import ORACLE_TRANSCRIPTS_CTE, transcripts

DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000
SESSION_GAP = "4 hours"
SESSION_GAP_US = 4 * 3_600_000_000


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _workdir(prefix: str) -> str:
    """tempfile.mkdtemp + atexit rmtree: the queries that materialize
    substrate tables (triangles/adamic_adar edge projections, the NB
    model split, minhash candidates, MOR/E2E scratch …) run on every
    bench sweep and gate pass — without registered cleanup they leak
    committed table data into TMPDIR indefinitely. Cleanup is deferred
    to process exit because the returned DataFrames are lazy: the
    driver collects them after the query function returns."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _tx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcripts with event-time as TIMESTAMP (UTC-pinned, value-exact)."""
    _utc(spark)
    return transcripts(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def _read(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read a testdata table; ``spread=True`` round-robins the rows across
    the cluster first. The sandbox tables are single-row-group parquet files
    (unsplittable scans → 1-way map stages); compute-heavy operators
    repartition so per-row work parallelizes. On a real 100 TB layout the
    scan itself is thousands of splits and this is a no-op decision."""
    _utc(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if spread:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


# ---------------------------------------------------------------- streaming /
# windowed surface (SURVEY.md §2.2 W1-W5, J1-J2, O1, X1, K1-K3)


def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _tx(spark, sf_dir)
    return win.tumbling(
        df,
        "1 day",
        ["role"],
        [
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("conv_id")).alias("n_convs"),
        ],
    )


def q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _tx(spark, sf_dir)
    return win.sliding(
        df,
        "2 days",
        "1 day",
        [],
        [
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("conv_id")).alias("n_convs"),
        ],
    )


def q_tumbling_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling windows through the SQL surface (twin of q_tumbling)."""
    _tx(spark, sf_dir).createOrReplaceTempView("tx_view")
    return spark.sql(
        """
        SELECT unix_micros(window.start) AS window_start_us,
               unix_micros(window.end) AS window_end_us,
               role,
               count(*) AS n,
               count(DISTINCT conv_id) AS n_convs
        FROM tx_view
        GROUP BY window(ts, '1 day'), role
        """
    )


def q_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _tx(spark, sf_dir)
    return win.sessionize(
        df,
        SESSION_GAP,
        ["conv_id"],
        [
            F.count(F.lit(1)).alias("n_turns"),
            F.max("turn_idx").alias("max_turn"),
        ],
    )


def q_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-conversation curve at hour boundaries
    (windows.concurrency_curve over the gap-closed sessions): each
    session contributes ±1 at its ceil-boundaries and the curve is one
    cumulative sum over the distinct boundary domain — interval
    stacking without a time-grid explode or self-join."""
    df = _tx(spark, sf_dir)
    sess = win.sessionize(df, SESSION_GAP, ["conv_id"])
    return win.concurrency_curve(sess, 3_600_000_000)


def q_session_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same session semantics as q_session via the two-phase (bucketed
    partial-aggregate) plan — the mega-conversation scale path; shares the
    session_window oracle, proving plan-level equivalence."""
    df = _tx(spark, sf_dir)
    return win.sessionize_two_phase(
        df, SESSION_GAP_US // 1_000_000, "conv_id", max_col="turn_idx"
    ).withColumnRenamed("max_turn_idx", "max_turn")


def q_session_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same session query through the Spark SQL surface (spark.sql text) —
    proves the SQL API exposes the engine identically to the DataFrame API."""
    _tx(spark, sf_dir).createOrReplaceTempView("tx_view")
    return spark.sql(
        f"""
        SELECT unix_micros(session_window.start) AS session_start_us,
               unix_micros(session_window.end) AS session_end_us,
               conv_id,
               count(*) AS n_turns,
               max(turn_idx) AS max_turn
        FROM tx_view
        GROUP BY session_window(ts, '{SESSION_GAP}'), conv_id
        """
    )


def q_conv_document(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assemble each conversation into one document (ordered turn concat) —
    the bridge from the streaming transcript store to corpus-level ops."""
    t = _tx(spark, sf_dir)
    assembled = (
        t.groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("turn_idx", "text"))
                    ),
                    lambda s: s["text"],
                ),
                " ",
            ).alias("doc_text"),
            F.count(F.lit(1)).alias("n_turns"),
        )
    )
    return assembled.select(
        "conv_id",
        "n_turns",
        F.length("doc_text").cast("long").alias("doc_chars"),
        F.substring(F.md5("doc_text"), 1, 16).alias("doc_fp"),
    )


def q_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = paired_turns_batch(_tx(spark, sf_dir))
    return pairs.select(
        "conv_id",
        "user_turn_idx",
        "user_text",
        F.unix_micros("user_ts").alias("user_ts_us"),
        "reply_turn_idx",
        "reply_role",
        "reply_text",
        F.unix_micros("reply_ts").alias("reply_ts_us"),
        "latency_us",
    )


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-corpus pipeline over conversations: assemble →
    Gopher quality filter → exact dedup — reported as a funnel row."""
    t = _tx(spark, sf_dir)
    assembled = t.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                lambda s: s["text"],
            ),
            " ",
        ).alias("doc_text")
    )
    staged = assembled.select(
        "conv_id",
        tx.gopher_keep(F.col("doc_text")).alias("keep"),
        tx.fingerprint(F.col("doc_text")).alias("fp"),
    )
    return staged.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("keep").cast("long")).alias("n_quality"),
        F.count_distinct(F.when(F.col("keep"), F.col("fp"))).alias("n_final"),
    )


def q_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _tx(spark, sf_dir)
    return df.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum((F.col("role") == "user").cast("long")).alias("n_user"),
        F.sum(F.col("tool").isNotNull().cast("long")).alias("n_tool"),
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.max("turn_idx").alias("max_turn"),
    )


def q_dedup_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2/K3 semantics in batch: replay dedup + last-writer upsert + delete."""
    from kafka2iceberg_spark.sink import dedup_batch

    t = (
        _tx(spark, sf_dir)
        .select("conv_id", "turn_idx", "text")
        .withColumn("uid", F.expr("CAST(substring(conv_id, 6, 20) AS LONG)"))
    )
    # offsets unique per (partition, record) like real Kafka: one offset
    # range per conversation (uid), intra-conv offsets ordered by turn/op
    part = (F.col("uid") % 4).cast("int")

    def ev(df: DataFrame, text: F.Column, off: F.Column, del_: bool) -> DataFrame:
        return df.select(
            "conv_id",
            "turn_idx",
            text.alias("text"),
            off.cast("long").alias("offset"),
            part.alias("partition_idx"),
            F.lit(0).cast("long").alias("ts_ms"),
            F.lit(del_).alias("is_cdc_delete"),
        )

    base_off = F.col("uid") * 1_000_000 + F.col("turn_idx") * 2
    base = ev(t, F.col("text"), base_off, False)
    dups = ev(
        t.where(F.col("turn_idx") % 7 == 0), F.col("text"), base_off, False,
    )
    upd = ev(
        t.where(F.col("turn_idx") % 5 == 0),
        F.concat(F.lit("upd:"), F.col("text")),
        base_off + 1, False,
    )
    dels = ev(
        t.where(F.col("turn_idx") % 13 == 0), F.col("text"),
        F.col("uid") * 1_000_000 + 900_000 + F.col("turn_idx"), True,
    )
    stream = base.unionByName(dups).unionByName(upd).unionByName(dels)
    out = dedup_batch(stream, ["conv_id", "turn_idx"])
    return out.where(~F.col("is_cdc_delete")).select(
        "conv_id", "turn_idx", "text", "offset"
    )


def q_dedup_upsert_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2/K3 via the MERGE-ON-READ table path: the same synthetic CDC
    stream as ``dedup_upsert``, committed as two real micro-batches with
    ``strategy="mor"`` (O(batch) appends + equality-delete files, no
    partition rewrites) and read back through the sequence-scoped
    reconciling scan. Same oracle as the CoW twin — strategy must not
    change the answer. Reference parity: Kafka2IcebergApp.java:95-113
    upsert semantics under Iceberg v2 row-level deletes."""
    import shutil

    from kafka2iceberg_spark.sink import IcebergLite

    t = (
        _tx(spark, sf_dir)
        .select("conv_id", "turn_idx", "text")
        .withColumn("uid", F.expr("CAST(substring(conv_id, 6, 20) AS LONG)"))
    )
    part = (F.col("uid") % 4).cast("int")

    def ev(df: DataFrame, text, off, del_: bool) -> DataFrame:
        return df.select(
            "conv_id",
            "turn_idx",
            text.alias("text"),
            off.cast("long").alias("offset"),
            part.alias("partition_idx"),
            F.lit(del_).alias("is_cdc_delete"),
        )

    base_off = F.col("uid") * 1_000_000 + F.col("turn_idx") * 2
    batch1 = ev(t, F.col("text"), base_off, False).unionByName(
        ev(t.where(F.col("turn_idx") % 7 == 0), F.col("text"), base_off,
           False)
    )
    batch2 = ev(
        t.where(F.col("turn_idx") % 5 == 0),
        F.concat(F.lit("upd:"), F.col("text")),
        base_off + 1, False,
    ).unionByName(
        ev(t.where(F.col("turn_idx") % 13 == 0), F.col("text"),
           F.col("uid") * 1_000_000 + 900_000 + F.col("turn_idx"), True)
    )
    work = _workdir("morq-")
    try:
        table = IcebergLite(
            f"{work}/t", pk=["conv_id", "turn_idx"], partition_field=None
        )
        table.commit_upsert(batch1, "0", strategy="mor")
        table.commit_upsert(batch2, "1", strategy="mor")
        # eager localCheckpoint: materialize + truncate lineage so the
        # result outlives the temp table's files
        return (
            table.read(spark)
            .select("conv_id", "turn_idx", "text", "offset")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return win.salted_agg(_tx(spark, sf_dir), "conv_id", 8)


def q_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-style pattern match: user → tool → user turn triples within
    a conversation (contiguous turn_idx), the declarative analogue of the
    reference's declared-but-unused flink-cep dependency (pom.xml:276-281).

    The closing turn is ``user`` (not ``assistant``) because the synthetic
    transcript schedule places ``user`` on every even turn_idx, so a
    user→tool→assistant triple cannot occur two turns apart; the pattern
    matched here is 'user asks, tool runs, user follows up'."""
    t = _tx(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    seq = t.select(
        "conv_id",
        "turn_idx",
        "role",
        F.lead("role", 1).over(w).alias("r1"),
        F.lead("role", 2).over(w).alias("r2"),
        F.lead("turn_idx", 2).over(w).alias("i2"),
        F.unix_micros("ts").alias("start_us"),
        F.unix_micros(F.lead("ts", 2).over(w)).alias("end_us"),
    )
    return seq.where(
        (F.col("role") == "user")
        & (F.col("r1") == "tool")
        & (F.col("r2") == "user")
        & (F.col("i2") == F.col("turn_idx") + 2)
    ).select(
        "conv_id",
        F.col("turn_idx").alias("start_turn"),
        "start_us",
        "end_us",
        (F.col("end_us") - F.col("start_us")).alias("span_us"),
    )


def q_cep_match_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length CEP: every greedy non-overlapping 'user followed by
    one-or-more assistant exchanges' run per conversation (MATCH_RECOGNIZE
    analogue; flink-cep is declared but unused in the reference pom.xml:
    276-281). One conv_id shuffle; regexp runs JVM-side on the folded
    role string."""
    return cep.match_extract(_tx(spark, sf_dir), "u(?:au)+")


def q_cep_sequence_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation CEP pattern profile: complete tool round-trips
    ('utu') and assistant-exchange runs ('u(?:au)+'), with the longest run
    length of each — zeros when absent, every conversation kept."""
    return cep.match_counts(
        _tx(spark, sf_dir),
        {"tool_trips": "utu", "assist_runs": "u(?:au)+"},
    )


def q_tool_precedence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-2 sequential-pattern support (PrefixSpan counting step) over
    tool invocations: ordered pairs (tool_a, tool_b) with the number of
    conversations where tool_a fires strictly before tool_b — subsequence
    with gaps, the CEP relaxation of transition_counts' adjacency. One
    (conv_id, tool) min/max aggregate, pair join on the aggregate only,
    exact BIGINT ppm support over tool-using conversations."""
    return cep.precedence_support(_tx(spark, sf_dir))


def q_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 late-data policy in batch: a row is late iff its event time is
    older than (per-conversation running-max event time at its arrival)
    minus the delay. Arrival order is derived deterministically (md5 of the
    PK) so the oracle can reproduce it; the streaming path gets this from
    real arrival order. Sequencing and running max are both scoped to
    conv_id — per-key watermark semantics — so the plan hash-partitions on
    conv_id instead of sorting the whole input through one task."""
    t = _tx(spark, sf_dir).withColumn(
        "arrival_seq",
        F.row_number().over(
            Window.partitionBy("conv_id").orderBy(
                F.md5(F.concat_ws(":", "conv_id", "turn_idx"))
            )
        ),
    )
    out = win.late_rows_batch(
        t, delay_seconds=600, partition_cols=("conv_id",)
    )
    return out.select("conv_id", "turn_idx", "is_late")


def q_topk_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 longest turns per conversation (rank window, deterministic
    tie-break on turn_idx)."""
    t = _tx(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy(
        F.length("text").desc(), F.col("turn_idx")
    )
    return (
        t.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "conv_id",
            "turn_idx",
            F.length("text").cast("long").alias("text_len"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


def q_enriched_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension enrichment: broadcast LEFT join facts→dim, rollup after.

    ``pipeline.enrich_with_dim`` (the Flink broadcast-state analogue):
    a deterministic tool dimension (owner team
    derived from the tool id) is broadcast-LEFT-joined into the transcript
    stream — unmatched (non-tool) turns surface with the '<none>' owner
    instead of being dropped. At 10^12 turns the fact side never shuffles:
    the dim rides the broadcast, the only exchange is the final group-by.
    """
    from kafka2iceberg_spark.pipeline import enrich_with_dim

    t = _tx(spark, sf_dir)
    dim = (
        t.where(F.col("tool").isNotNull())
        .select("tool")
        .distinct()
        .withColumn(
            "owner",
            F.concat(
                F.lit("team_"),
                (F.substring("tool", 6, 1).cast("int") % 3).cast("string"),
            ),
        )
    )
    return (
        enrich_with_dim(t, dim, on="tool")
        .groupBy(
            "role",
            F.coalesce(F.col("dim_owner"), F.lit("<none>")).alias("owner"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("conv_id").alias("n_convs"),
        )
    )


def q_role_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation over (role, tool) with grouping-level markers."""
    t = _tx(spark, sf_dir)
    return (
        t.rollup("role", "tool")
        .agg(
            F.grouping("role").cast("long").alias("g_role"),
            F.grouping("tool").cast("long").alias("g_tool"),
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("conv_id").alias("n_convs"),
        )
        .select(
            F.coalesce(F.col("role"), F.lit("<all>")).alias("role_g"),
            F.coalesce(F.col("tool"), F.lit("<all>")).alias("tool_g"),
            "g_role",
            "g_tool",
            "n",
            "n_convs",
        )
    )


def q_streaming_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full streaming path: gen → file broker → parse → exactly-once sink →
    read-back. Non-SQL-expressible (stateful streaming); rows-only check."""

    from kafka2iceberg_spark.gen import GenConfig, write_stream_files
    from kafka2iceberg_spark.pipeline import run_ingest_once
    from kafka2iceberg_spark.schema import transcript_task
    from kafka2iceberg_spark.sink import IcebergLite

    _utc(spark)
    cfg = GenConfig(n_convs=10, turns_per_conv=10, mega_convs=1, mega_turns=40)
    root = _workdir("k2i_e2e_")
    write_stream_files(cfg, f"{root}/broker", files=4)
    table = IcebergLite(f"{root}/table", pk=["conv_id", "turn_idx"])
    spec = transcript_task()
    run_ingest_once(
        spark, f"{root}/broker", spec, table, f"{root}/ckpt",
        max_files_per_trigger=2,
    )
    return table.read(spark).select(
        "conv_id", "turn_idx", "role", "text", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    )


def q_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[REF] P1-P15 end-to-end: wrap transcripts in Canal-JSON envelopes,
    run the full ingest parse, emit typed rows."""
    from kafka2iceberg_spark.ingest import parse

    t = _tx(spark, sf_dir)
    env = t.select(
        F.to_json(
            F.struct(
                F.array(
                    F.struct(
                        F.col("conv_id"),
                        F.col("turn_idx").cast("string").alias("turn_idx"),
                        F.col("role"),
                        F.col("text"),
                        F.coalesce(F.col("tool"), F.lit("null")).alias("tool"),
                        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
                    )
                ).alias("data"),
                F.lit("chat").alias("database"),
                F.lit("transcripts").alias("table"),
                F.when(F.col("turn_idx") % 13 == 0, F.lit("DELETE"))
                .otherwise(F.lit("INSERT"))
                .alias("type"),
                F.lit(False).alias("isDdl"),
                F.unix_millis("ts").alias("ts"),
                (F.unix_millis("ts") - 500).alias("es"),
                (F.unix_millis("ts") + 1000).alias("CommitTs"),
                F.col("turn_idx").cast("long").alias("_offset"),
                (F.expr("CAST(substring(conv_id, 6, 20) AS INT)") % 4).alias(
                    "_partition"
                ),
            )
        ).alias("value")
    )
    spec = TaskSpec(
        source_database="chat",
        source_table="transcripts",
        fields=[
            FieldSpec("conv_id", 1, "string", is_primary_key=True),
            FieldSpec("turn_idx", 2, "int", is_primary_key=True),
            FieldSpec("role", 3, "string"),
            FieldSpec("text", 4, "string"),
            FieldSpec("tool", 5, "string"),
            FieldSpec("ts", 6, "timestamp"),
            # P14: named commit_ts, absent from data[] -> envelope CommitTs
            FieldSpec("commit_ts", 7, "bigint"),
        ],
    )
    out = parse(env, spec)
    return out.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "commit_ts",
        "offset",
        "partition_idx",
        "is_cdc_delete",
    )


def _envelope_spec() -> TaskSpec:
    """Shared task spec for the Canal-envelope gate queries."""
    return TaskSpec(
        source_database="chat",
        source_table="transcripts",
        fields=[
            FieldSpec("conv_id", 1, "string", is_primary_key=True),
            FieldSpec("turn_idx", 2, "int", is_primary_key=True),
            FieldSpec("role", 3, "string"),
            FieldSpec("text", 4, "string"),
            FieldSpec("tool", 5, "string"),
            FieldSpec("ts", 6, "timestamp"),
        ],
    )


def q_pk_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[REF-adjacent] pkNames validation: envelopes whose declared primary
    keys disagree with the configured ones are surfaced for observability
    (the reference parses pkNames at FlatMessage but never checks them).
    Deterministic corruption: every 7th turn declares pkNames=['conv_id']
    (flagged); every 11th omits pkNames entirely (Canal does for some
    sources — must NOT be flagged)."""
    from kafka2iceberg_spark.ingest import pk_mismatch_envelopes

    t = _tx(spark, sf_dir)
    pk_names = (
        F.when(F.col("turn_idx") % 11 == 0, F.lit(None).cast("array<string>"))
        .when(F.col("turn_idx") % 7 == 0, F.array(F.lit("conv_id")))
        .otherwise(F.array(F.lit("turn_idx"), F.lit("conv_id")))
    )
    env = t.select(
        F.to_json(
            F.struct(
                F.array(
                    F.struct(
                        F.col("conv_id"),
                        F.col("turn_idx").cast("string").alias("turn_idx"),
                        F.col("role"),
                        F.col("text"),
                        F.coalesce(F.col("tool"), F.lit("null")).alias("tool"),
                        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
                    )
                ).alias("data"),
                pk_names.alias("pkNames"),
                F.lit("chat").alias("database"),
                F.lit("transcripts").alias("table"),
                F.lit("INSERT").alias("type"),
                F.lit(False).alias("isDdl"),
                F.unix_millis("ts").alias("ts"),
                F.col("turn_idx").cast("long").alias("_offset"),
                (F.expr("CAST(substring(conv_id, 6, 20) AS INT)") % 4).alias(
                    "_partition"
                ),
            )
        ).alias("value")
    )
    out = pk_mismatch_envelopes(env, _envelope_spec())
    return out.select(
        "database",
        F.col("table").alias("src_table"),
        F.array_join("pk_names", ",").alias("pk_names"),
        F.array_join("expected_pk", ",").alias("expected_pk"),
        F.col("offset").cast("long").alias("offset"),
        F.col("partition_idx").cast("int").alias("partition_idx"),
    )


def q_update_diffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[REF-adjacent] CDC field-level diffs from the UPDATE envelopes' old[]
    pre-image array (parsed-then-discarded by the reference). Every 3rd turn
    is an UPDATE; its old image carries reversed text when turn_idx is even
    and role='draft' when turn_idx % 5 == 0 — one output row per changed
    field, values as wire strings with 'null' normalized."""
    from kafka2iceberg_spark.ingest import update_diffs

    t = _tx(spark, sf_dir)
    base = t.filter((F.col("turn_idx") % 3 == 0) & (F.col("turn_idx") > 0))
    env = base.select(
        F.to_json(
            F.struct(
                F.array(
                    F.struct(
                        F.col("conv_id"),
                        F.col("turn_idx").cast("string").alias("turn_idx"),
                        F.col("role"),
                        F.col("text"),
                        F.coalesce(F.col("tool"), F.lit("null")).alias("tool"),
                        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
                    )
                ).alias("data"),
                F.array(
                    F.struct(
                        F.when(
                            F.col("turn_idx") % 2 == 0, F.reverse(F.col("text"))
                        ).alias("text"),
                        F.when(F.col("turn_idx") % 5 == 0, F.lit("draft")).alias(
                            "role"
                        ),
                    )
                ).alias("old"),
                F.lit("chat").alias("database"),
                F.lit("transcripts").alias("table"),
                F.lit("UPDATE").alias("type"),
                F.lit(False).alias("isDdl"),
                F.unix_millis("ts").alias("ts"),
                F.col("turn_idx").cast("long").alias("_offset"),
                (F.expr("CAST(substring(conv_id, 6, 20) AS INT)") % 4).alias(
                    "_partition"
                ),
            )
        ).alias("value")
    )
    return update_diffs(env, _envelope_spec())


# ------------------------------------------------------------- text analysis


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents", spread=True)
    c = F.col("text")
    return d.select(
        "doc_id",
        F.length(c).cast("long").alias("n_chars_calc"),
        tx.n_tokens(c).alias("n_tok"),
        tx.bpe_token_count(c).alias("bpe_tok"),
        tx.avg_word_len_ppm(c).alias("avg_word_len_ppm"),
        tx.stopword_ppm(c).alias("stopword_ppm"),
        tx.alpha_ppm(c).alias("alpha_ppm"),
        tx.quality_ppm(c).alias("quality_ppm"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents", spread=True)
    return d.select("doc_id", tx.lang_id(F.col("text")).alias("pred_lang"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents", spread=True)
    return d.select("doc_id", tx.fingerprint(F.col("text")).alias("fp"))


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[TRAIN] PII scrub: deterministic emails/IPs/phones are injected into
    every 3rd/4th/5th document, then counted (pre-redaction) and replaced
    with typed placeholders. Single codegen'd projection, no shuffle."""
    d = _read(spark, sf_dir, "documents", spread=True)
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" from 10.2."),
                (did % 250).cast("string"),
                F.lit(".7"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" call 555-"),
                (F.lit(100) + did % 900).cast("string"),
                F.lit("-"),
                (F.lit(1000) + did % 9000).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    t = d.select("doc_id", injected.alias("t"))
    return t.select(
        "doc_id",
        *tx.pii_counts(F.col("t")),
        F.substring(F.md5(tx.redact_pii(F.col("t"))), 1, 16).alias(
            "redacted_hash"
        ),
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[TRAIN] Overlapping token-window chunking (24-token chunks, 8-token
    overlap) — the context-window shaping step before packing; chunk
    content rides as a 64-bit hash so downstream dedup shuffles short
    keys."""
    d = _read(spark, sf_dir, "documents", spread=True)
    return tx.chunk_documents(d, chunk_tokens=24, overlap=8)


def q_top_rare_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[TRAIN] Per-doc top-3 distinguishing terms by (tf desc, df asc,
    token) — the integer-exact core of TF-IDF keyword extraction (no
    transcendentals, so the oracle matches bit-for-bit). Shape: one
    doc-term aggregate, one vocabulary aggregate, an equi-join keyed on
    token, and a per-doc window — each stage partial-aggregated and
    shuffle-balanced on short keys."""
    d = _read(spark, sf_dir, "documents", spread=True)
    toks = d.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("token")
    ).where(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token")
    )
    return (
        tf.join(df_, "token")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "token",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def q_missing_replies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[NORTH-adjacent CEP] Unanswered user turns: after dropping tool
    turns, a user turn immediately followed by another user turn in the
    same conversation means the first got no assistant reply. One lag
    window partitioned by conv_id — single hash shuffle, no global sort."""
    t = _tx(spark, sf_dir).where(F.col("role") != "tool")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        t.select(
            "conv_id",
            "turn_idx",
            "role",
            F.lag("turn_idx").over(w).alias("prev_turn_idx"),
            F.lag("role").over(w).alias("prev_role"),
        )
        .where((F.col("role") == "user") & (F.col("prev_role") == "user"))
        .select(
            "conv_id",
            F.col("prev_turn_idx").cast("long").alias("asked_turn"),
            F.col("turn_idx").cast("long").alias("next_user_turn"),
        )
    )


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style corpus-quality rule flags + composite keep decision."""
    d = _read(spark, sf_dir, "documents", spread=True)
    c = F.col("text")
    return d.select("doc_id", *tx.gopher_flags(c), tx.gopher_keep(c))


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filters: duplicate-token share and top-bigram share."""
    d = _read(spark, sf_dir, "documents", spread=True)
    c = F.col("text")
    return d.select(
        "doc_id",
        tx.repetition_token_ppm(c).alias("rep_token_ppm"),
        tx.top_bigram_ppm(c).alias("top_bigram_ppm"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (FFD per hash shard). The DuckDB oracle replays the
    identical first-fit-decreasing placement per shard with a recursive CTE
    (one doc per shard per iteration, bins carried as a capacity list);
    invariants additionally covered in pytest."""
    from kafka2iceberg_spark.packing import pack_sequences

    d = _read(spark, sf_dir, "documents", spread=True)
    return pack_sequences(d, budget=128)


def q_pack_bin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-rate accounting over the FFD packing: per-bin doc count, token
    fill, and exact ppm fill rate — the training-batch efficiency metric."""
    from kafka2iceberg_spark.packing import bin_stats, pack_sequences

    d = _read(spark, sf_dir, "documents", spread=True)
    packed = pack_sequences(d, budget=128)
    return bin_stats(packed, budget=128)


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible sampling + train/val/test split by hash bucket."""
    d = _read(spark, sf_dir, "documents", spread=True)
    key = F.col("doc_id").cast("string")
    return d.select(
        "doc_id",
        tx.hash_bucket(key).alias("bucket"),
        tx.deterministic_sample(key, 100).alias("in_10pct_sample"),
        tx.dataset_split(key).alias("split"),
    )


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: top-20 tokens by frequency."""
    d = _read(spark, sf_dir, "documents", spread=True)
    toks = d.select(
        F.explode(tx.tokens(F.col("text"))).alias("token")
    ).where(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("n").desc(), F.col("token"))
            ).cast("long"),
        )
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-customer estimate per order priority — a
    mergeable 4096-register sketch instead of an exact COUNT(DISTINCT)
    shuffle. Engine-portable: md5 register hashing, bin()-length ranks,
    exact BIGINT register sums (sketches.py); the reference has no
    aggregation surface at all (SURVEY.md §2.1)."""
    orders = _read(spark, sf_dir, "orders")
    return sk.hll_estimate(
        orders, F.col("o_custkey").cast("string"), group=["o_orderpriority"]
    )


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-part estimate over lineitem: the 256
    smallest md5 hashes of l_partkey; per-partition partial top-K, no full
    shuffle of the distinct domain."""
    li = _read(spark, sf_dir, "lineitem")
    return sk.kmv_estimate(li, F.col("l_partkey").cast("string"), k=256)


def q_countmin_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters over document tokens: a 4x1024 counter
    matrix (map-side partial agg, <= 4096 shuffled rows per partition)
    probed with the exact top-15 tokens; est_count >= exact_n by the
    classic CM overestimate bound."""
    d = _read(spark, sf_dir, "documents", spread=True)
    toks = d.select(
        F.explode(tx.tokens(F.col("text"))).alias("token")
    ).where(F.col("token") != "")
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_n"))
    cands = exact.orderBy(F.col("exact_n").desc(), F.col("token")).limit(15)
    est = sk.countmin_heavy_hitters(toks, cands.select("token"))
    return cands.join(est, "token").select("token", "exact_n", "est_count")


def q_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters without shuffling the token domain: per-partition
    Misra-Gries candidate pass (bounded memory, provably no false
    negatives at capacity > n/threshold), then a broadcast-semi-join exact
    verify that kills MG's false positives. Deterministic regardless of
    partition layout — the oracle is a plain GROUP BY ... HAVING."""
    d = _read(spark, sf_dir, "documents", spread=True)
    toks = d.select(
        F.explode(tx.tokens(F.col("text"))).alias("token")
    ).where(F.col("token") != "")
    n = toks.count()
    return sk.heavy_hitters_exact(toks, max(n // 30, 1), n=n)


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF codebook build + nearest-centroid assignment (exact integer L2)."""
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    cents = sim.ivf_centroids(emb)
    return sim.ivf_assign(emb, cents)


# -------------------------------------------------------------------- dedup


def _docs_aug_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    copies = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return d.unionByName(copies)


def _docs_aug_near(spark: SparkSession, sf_dir: str, subset: bool) -> DataFrame:
    """Documents plus near-dup variants at doc_id + 100000.

    The +100000 variant-id offset assumes native doc_ids stay below
    100000, which holds for every driver scale factor (sf0.1 tops out at
    5000 docs); the SQL oracles share the same convention, so if a future
    corpus ever exceeded it, derive the offset from max(doc_id) in BOTH
    places rather than only here."""
    d = _read(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    base = d.where(F.col("doc_id") % 5 == 0) if subset else d
    variants = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.substring(F.col("text"), 8, 1_000_000).alias("text"),
    )
    return base.unionByName(variants)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup(_docs_aug_exact(spark, sf_dir))


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.ngram_jaccard_pairs(
        _docs_aug_near(spark, sf_dir, subset=True), threshold=0.8
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (Broder 1997) on the near-dup
    corpus: |A∩B|/|A| and |A∩B|/|B| per candidate pair in exact BIGINT
    ppm, kept when either direction ≥ 0.8 — catches the subset-style
    duplication (the substr-variant docs are ~fully contained in their
    originals) that symmetric Jaccard under-scores."""
    return dd.containment_pairs(
        _docs_aug_near(spark, sf_dir, subset=True), threshold_ppm=800_000
    )


def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard>=0.8 join via AllPairs prefix filtering
    (dedup.jaccard_prefix_pairs): candidates only from rare-prefix shingle
    collisions, exact verification — scale-shaped like LSH but exact.
    WORD-3-gram sets: prefix filtering needs token diversity to bite, and
    the synthetic corpus's character n-gram universe is tiny (measured
    2,028 distinct char-5-grams across 1,500 docs at sf0.1 → 707k
    candidates ≈ half of all pairs ≈ 40 s; word-gram universe is
    |vocab|^3 ≈ 30k → candidates collapse to the true near-dup
    neighborhood). Oracle = the independent all-pairs SQL formulation
    over the same word-3-gram sets."""
    return dd.jaccard_prefix_pairs(
        _docs_aug_near(spark, sf_dir, subset=True),
        threshold_num=4,
        threshold_den=5,
        n=3,
        unit="word",
    )


def q_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Levenshtein near-dup join (dedup.edit_distance_pairs):
    length-banded candidates, JVM levenshtein verification — banding is
    lossless (length diff ≤ k ⇒ adjacent buckets), so the result equals
    the all-pairs formulation the DuckDB oracle computes quadratically.
    Texts are capped to 160 chars up front so the DP cost per candidate
    is bounded — the cap is part of the query, applied identically on
    both engines."""
    docs = _docs_aug_near(spark, sf_dir, subset=True).select(
        "doc_id", F.substring("text", 1, 160).alias("text")
    )
    return dd.edit_distance_pairs(docs, max_dist=15)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_pairs(
        _docs_aug_near(spark, sf_dir, subset=False), threshold=0.875
    )


def q_neardup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion-time near-dup dedup (dedup.NearDupIndex):
    the corpus arrives as two batches (doc_id parity); each batch is
    banded against the committed signature index, rescored exactly, and
    appended — the 100 TB shape where the corpus is never re-deduped.
    Final pair set == batch ``minhash_lsh_pairs`` over the union (prefix
    parity, tests/test_streaming_neardup.py), so the oracle is the SAME
    SQL as ``dedup_minhash_lsh`` — the driver gate proves the incremental
    path lands exactly the batch answer."""

    from kafka2iceberg_spark.sink import IcebergLite

    _utc(spark)
    docs = _docs_aug_near(spark, sf_dir, subset=False)
    work = _workdir("neardup_idx_")
    nd = dd.NearDupIndex(
        IcebergLite(f"{work}/index", pk=["doc_id"], partition_field=None),
        IcebergLite(
            f"{work}/pairs", pk=["doc_a", "doc_b"], partition_field=None
        ),
        threshold=0.875,
    )
    nd.apply_batch(docs.where(F.col("doc_id") % 2 == 0), "0")
    nd.apply_batch(docs.where(F.col("doc_id") % 2 == 1), "1")
    return nd.all_pairs(spark)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components over the
    MinHash-LSH pair graph via iterative min-label propagation (Pregel
    shape — one distributed join+min per round, driver reads only a
    convergence count). The DuckDB oracle computes the identical
    components with a recursive-CTE transitive closure."""
    out = dd.neardup_components(
        _docs_aug_near(spark, sf_dir, subset=False), threshold=0.875
    )
    return out.select(
        "doc_id", F.col("component").cast("long").alias("component")
    )


def q_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection per near-dup cluster: after transitive
    clustering (dedup.neardup_components), keep the LONGEST member
    (doc_id tie-break) — the keep-best survivor rule real dedup
    pipelines use instead of min-id. One |docs|-sized join of components
    to lengths + one per-component rank window; the oracle reuses the
    closure CTE and replays the argmax."""
    aug = _docs_aug_near(spark, sf_dir, subset=False)
    comp = dd.neardup_components(aug, threshold=0.875)
    joined = comp.join(
        aug.select("doc_id", F.length("text").alias("n_len")), "doc_id"
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("n_len"), F.asc("doc_id")
    )
    return joined.select(
        "doc_id",
        F.col("component").cast("long").alias("component"),
        F.col("n_len").cast("long").alias("n_len"),
        (F.row_number().over(w) == 1).alias("keep"),
    )


def q_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained fact><fact JOIN view
    (matview.IncrementalJoinView): orders and lineitem arrive as three
    interleaved insert batches (order keys mod 3; line rows offset by
    linenumber so same-batch, early-left and early-right matches all
    occur), each batch folded in with the delta rule dV = dL><R u L><dR
    u dL><dR and committed atomically with both source appends through
    one MultiTableTransaction. The '1-URGENT' predicate is part of the
    view definition (filter pushed into the deltas). The DuckDB oracle
    is the from-scratch join — the gate proves the incremental path
    lands exactly the batch answer."""

    from kafka2iceberg_spark.matview import IncrementalJoinView
    from kafka2iceberg_spark.sink import IcebergLite
    from kafka2iceberg_spark.transactions import CatalogLite

    _utc(spark)
    orders = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
    )
    lines = _read(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        "l_linenumber",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
            "revenue"
        ),
    )
    work = _workdir("join_view_")
    cat = CatalogLite(work)
    cat.register("orders", IcebergLite(f"{work}/orders", pk=["orderkey"]))
    cat.register(
        "lines", IcebergLite(f"{work}/lines", pk=["orderkey", "l_linenumber"])
    )
    cat.register(
        "v", IcebergLite(f"{work}/v", pk=["orderkey", "l_linenumber"])
    )
    jv = IncrementalJoinView(
        cat,
        "orders",
        "lines",
        "v",
        on=["orderkey"],
        left_cols=["o_orderpriority"],
        right_cols=["l_linenumber", "revenue"],
        filter_left="o_orderpriority = '1-URGENT'",
    )
    for b in range(3):
        jv.apply_batch(
            orders.where(F.col("orderkey") % 3 == b),
            lines.where((F.col("orderkey") + F.col("l_linenumber")) % 3 == b),
            str(b),
        )
    return jv.read(spark)


def q_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eps-DP per-language document counts (dq.dp_group_counts): Laplace
    mechanism with per-entity contribution bounding — each source
    contributes at most 8 rows per language and 4 languages, so global
    sensitivity is exactly 32; Laplace(32/eps) noise comes from a pinned
    inverse-CDF draw keyed by the (secret in production) release id, which
    is what lets the DuckDB oracle replay the release bit-for-bit. Dwork
    et al. 2006; bounded-contribution SQL shape per Wilson et al. 2020."""
    from kafka2iceberg_spark import dq as dqm

    return dqm.dp_group_counts(
        _read(spark, sf_dir, "documents"),
        "lang",
        "source",
        "doc_id",
        epsilon_ppm=1_000_000,
        row_cap=8,
        group_cap=4,
        release_id="dp-docs-v1",
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word-5-gram
    with the pseudo-benchmark set (originals whose near-dup variants are in
    the training corpus — guaranteed leakage) get flagged. The oracle
    mirrors the gram join in SQL."""
    aug = _docs_aug_near(spark, sf_dir, subset=False)
    bench = (
        _read(spark, sf_dir, "documents", spread=True)
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
    )
    train = aug.where(
        (F.col("doc_id") % 10 != 0) | (F.col("doc_id") >= 100000)
    )
    return dd.contamination_flags(train, bench, n=5)


def q_stream_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained uniform sample (sketches.StreamingSample): the corpus
    arrives as three micro-batches (doc_id mod 3) and each one
    min-merges its local bottom-k of md5 priorities into the committed
    k-row sample table — reservoir sampling re-expressed as a mergeable
    bottom-k sketch, k rows of state forever at any stream size. The
    pinned draw makes the maintained table equal the one-shot batch
    bottom-k, so the DuckDB oracle is just ORDER BY md5 LIMIT k."""

    from kafka2iceberg_spark.sink import IcebergLite
    from kafka2iceberg_spark.sketches import StreamingSample

    d = _read(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "lang", "n_chars"
    )
    work = _workdir("stream_sample_")
    ss = StreamingSample(
        IcebergLite(f"{work}/sample", pk=["doc_id"], partition_field=None),
        k=100,
        id_col="doc_id",
    )
    for b in range(3):
        ss.apply_batch(d.where(F.col("doc_id") % 3 == b), str(b))
    return ss.sample(spark).select(
        "doc_id", "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("_prio").alias("prio"),
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified sample: deterministic top-20 docs per
    predicted language in md5-hash order — balanced eval subsets, one
    partitioned rank window (no global sort)."""
    d = _read(spark, sf_dir, "documents", spread=True)
    base = d.select("doc_id", tx.lang_id(F.col("text")).alias("pred_lang"))
    w = Window.partitionBy("pred_lang").orderBy(
        tx.hash32(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        base.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 20)
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash(_read(spark, sf_dir, "documents", spread=True))


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.embedding_neardup_pairs(
        _read(spark, sf_dir, "embeddings", spread=True), threshold=0.35
    )


# --------------------------------------------------------------- similarity


def q_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    q = emb.where(F.col("vec_id") < 8)
    out = sim.brute_topk(emb, q, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (similarity.hard_negatives): per query
    vector, the 5 most-similar DIFFERENT-label vectors — the near-miss
    impostors contrastive training needs (vs trivially-far random
    negatives). Broadcast query side, label inequality in the join
    condition, one per-query rank window; the oracle replays the exact
    cosine and tie rules."""
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    q = emb.where(F.col("vec_id") < 8)
    out = sim.hard_negatives(emb, q, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: probe the 2 nearest cells per query, exact cosine rerank —
    the third ANN strategy (scanned fraction ≈ n_probe/|cells| at scale).
    The DuckDB oracle replays the integer codebook, cell assignment, probe
    ranking, and rerank with identical arithmetic."""
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    q = emb.where(F.col("vec_id") < 8)
    out = sim.ivf_topk(emb, q, k=5, n_probe=2)
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ANN (fourth strategy): corpus compressed to 16 6-bit codes
    (12 bytes vs 256), per-query integer distance LUT broadcast over the
    code table, top-40 candidates reranked exactly by cosine. The DuckDB
    oracle replays codebook build (md5-bucket integer means), encoding
    argmin, LUT, ADC, and rerank with identical arithmetic."""
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    q = emb.where(F.col("vec_id") < 8)
    out = sim.pq_topk(emb, q, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via random-hyperplane LSH; the DuckDB oracle mirrors
    the sign-bucketing → candidate join → exact rerank over the identical
    inlined hyperplane literals (recall vs brute additionally in pytest)."""
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    q = emb.where(F.col("vec_id") < 8)
    out = sim.lsh_topk(emb, q, k=5, dim=64)
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH ANN index (similarity.AnnIndex): vectors arrive
    as two batches (vec_id parity), each bucketed ONCE at ingestion and
    upserted into the committed index; queries bucket only themselves
    and candidate-join the stored buckets. Index answers == batch
    ``lsh_topk`` for the same corpus (shared rerank, deterministic
    buckets), so the oracle is the SAME SQL as ``ann_lsh_topk``."""

    from kafka2iceberg_spark.sink import IcebergLite

    _utc(spark)
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    work = _workdir("ann_idx_")
    idx = sim.AnnIndex(
        IcebergLite(f"{work}/index", pk=["vec_id"], partition_field=None),
        dim=64,
    )
    idx.apply_batch(emb.where(F.col("vec_id") % 2 == 0), "0")
    idx.apply_batch(emb.where(F.col("vec_id") % 2 == 1), "1")
    out = idx.topk(spark, emb.where(F.col("vec_id") < 8), k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


# --------------------------------------------------------------- multimodal


def q_blob_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mm.as_blobs(_read(spark, sf_dir, "documents", spread=True)).select(
        "doc_id", "mime", "n_bytes", "sha"
    )


def q_blob_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    blobs = mm.as_blobs(_read(spark, sf_dir, "documents", spread=True))
    return mm.extract_features(blobs).select(
        "doc_id", "n_bytes", "byte_mean_ppm", "head_hex"
    )


# ---------------------------------------------------- batch analytics (scale)


def q_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated latency percentiles per reply role over paired turns."""
    pairs = paired_turns_batch(_tx(spark, sf_dir)).where(
        F.col("latency_us").isNotNull()
    )
    return pairs.groupBy("reply_role").agg(
        F.round(F.expr("percentile(latency_us, 0.5)"), 4).alias("p50_us"),
        F.round(F.expr("percentile(latency_us, 0.9)"), 4).alias("p90_us"),
        F.round(F.expr("percentile(latency_us, 0.99)"), 4).alias("p99_us"),
        F.count(F.lit(1)).alias("n"),
    )


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of events.value per event type."""
    ev = _read(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 100).cast("long")
    return ev.groupBy(
        "event_type", bucket.alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


def q_conv_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-depth funnel: how many conversations reach k turns."""
    sizes = _tx(spark, sf_dir).groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("k")
    )
    return sizes.agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.sum((F.col("k") >= 20).cast("long")).alias("n_ge_20"),
        F.sum((F.col("k") >= 50).cast("long")).alias("n_ge_50"),
        F.sum((F.col("k") >= 70).cast("long")).alias("n_ge_70"),
    )


def q_fulfilled_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join surface: customers with at least one fulfilled order."""
    cust = _read(spark, sf_dir, "customer")
    f_orders = _read(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    return cust.join(
        f_orders, cust.c_custkey == f_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join surface: customers with no order before mid-1995 (the date
    predicate pushes to the orders scan; the anti join broadcasts)."""
    cust = _read(spark, sf_dir, "customer")
    early = _read(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-06-01").cast("timestamp_ntz")
    )
    return (
        cust.join(
            early, cust.c_custkey == early.o_custkey, "left_anti"
        ).select("c_custkey", "c_name", "c_mktsegment")
    )


def q_priority_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: per order-priority share of orders in ppm
    (exact integer arithmetic, parity-safe). The denominator is a window
    total over the (tiny, post-agg) per-priority counts — a single scan,
    no driver-side count() action before the plan runs."""
    orders = _read(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = F.sum("n").over(Window.partitionBy())
    return per.select(
        "o_orderpriority",
        "n",
        tx._idiv(F.col("n") * 1_000_000, total.cast("long")).alias(
            "share_ppm"
        ),
    )


def _dec(c: str) -> F.Column:
    return F.col(c).cast("decimal(18,2)")


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem", spread=True)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
        .cast("double")
        .alias("sum_disc_price"),
        F.count(F.lit(1)).alias("count_order"),
        (
            F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))
        ).alias("avg_qty"),
    )


def q_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    cust = _read(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem", spread=True)
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem", spread=True)
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count_distinct(F.col("o_orderkey")).alias("n_orders"),
        )
    )


def q_region_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-style local-supplier volume: fact table joined through the full
    supplier→nation→region dimension chain, every dimension broadcast (the
    fact side is never shuffled — one scan, map-side joins, one agg
    exchange on r_name)."""
    _utc(spark)
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    li = _read(spark, sf_dir, "lineitem", spread=True)
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand shipped volume through the part dimension (broadcast)."""
    _utc(spark)
    p = _read(spark, sf_dir, "part")
    li = _read(spark, sf_dir, "lineitem", spread=True)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_items"),
            F.count_distinct("p_type").alias("n_types"),
        )
    )


def q_cumulative_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running spend: a partitioned ordered window (hash
    exchange on o_custkey, per-key sort — no global ordering anywhere).
    Decimal accumulation keeps the running sum engine-exact."""
    _utc(spark)
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
            "order_us"
        ),
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias(
            "spend_to_date"
        ),
    )


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year. The fact table is joined through TWO independent dimension chains
    (supplier→nation, orders→customer→nation) — every dimension broadcast,
    the lineitem scan is filtered by the broadcast semi before any shuffle,
    and the only exchange is the final 3-key aggregation."""
    _utc(spark)
    s = _read(spark, sf_dir, "supplier")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem", spread=True)
    pair = n.where(F.col("n_name").isin("NATION_1", "NATION_2"))
    n1 = pair.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = pair.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    j = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .where(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
    ).agg(F.sum(rev).cast("double").alias("volume"))


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3's share of PROMO-part revenue sold to ASIA
    customers, per order year. Conditional aggregation over one joined scan
    — share = sum(CASE)/sum() with exact decimal numerators, one double
    division at the end. The part filter broadcast-semi-prunes the fact scan
    before the orders join."""
    _utc(spark)
    p = _read(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    c = _read(spark, sf_dir, "customer")
    r = _read(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem", spread=True)
    cn = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey")
    )
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(sn), li.l_suppkey == F.col("s_suppkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cn), o.o_custkey == F.col("c_custkey"), "left_semi")
    )
    agg = j.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0)))
        .cast("double")
        .alias("nation_volume"),
        F.sum(rev).cast("double").alias("total_volume"),
    )
    return agg.select(
        "order_year",
        "nation_volume",
        "total_volume",
        (F.col("nation_volume") / F.col("total_volume")).alias("mkt_share"),
    )


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus retail-cost proxy — the
    testdata star has no partsupp, so p_retailprice stands in for
    ps_supplycost) per supplier nation and order year. All dimensions
    broadcast; the single wide exchange is the fact↔orders key join."""
    _utc(spark)
    p = _read(spark, sf_dir, "part")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem", spread=True)
    profit = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")) - _dec(
        "p_retailprice"
    ) * _dec("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed exactly k orders,
    including k=0. The fact table is pre-aggregated to one row per customer
    (one shuffle on o_custkey, map-side combine), then the per-customer
    counts — dimension-sized — are BROADCAST back to the customer table for
    the left join; the second aggregation groups a dimension-sized input."""
    _utc(spark)
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        c.join(F.broadcast(per_cust), c.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): one scan, three
    pushable predicates (ship year, discount band as exact ppm ints,
    quantity cap), revenue = Σ extendedprice·discount as an exact
    DECIMAL-scale product summed to BIGINT×10^6 — no float anywhere.
    The simplest query in the suite and the purest pushdown test: the
    plan must be scan → filter → one partial agg."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem", spread=True)
    disc_ppm = F.round(F.col("l_discount") * 1_000_000).cast("long")
    rev6 = (
        _dec("l_extendedprice") * _dec("l_discount") * F.lit(10000)
    ).cast("long")
    return (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & disc_ppm.between(50_000, 70_000)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(rev6).alias("revenue4"),
        )
    )


def q_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): top-20 customers by
    revenue lost to returns in one order-date quarter-of-year window —
    lineitem filtered on the R flag, orders on the date band, customer
    broadcast; revenue exact DECIMAL→BIGINT scale-4; deterministic
    top-20 (revenue desc, custkey)."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem", spread=True)
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    rev4 = (
        _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")) * F.lit(10000)
    ).cast("long")
    j = (
        li.where(F.col("l_returnflag") == "R")
        .join(
            o.where(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1996-07-01")
            ),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        j.groupBy("c_custkey", "c_name")
        .agg(F.sum(rev4).alias("revenue4"), F.count(F.lit(1)).alias("n_lines"))
        .orderBy(F.desc("revenue4"), "c_custkey")
        .limit(20)
    )


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: PROMO-part share of revenue per ship month, in
    integer parts-per-million so the share survives cross-engine hashing.
    Revenue is exact DECIMAL scale-4; ×10^4 makes it an exact BIGINT and
    ppm is a pure integer floor-division — no float until never."""
    _utc(spark)
    p = _read(spark, sf_dir, "part")
    li = _read(spark, sf_dir, "lineitem", spread=True)
    rev4 = (
        _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")) * F.lit(10000)
    ).cast("long")
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev4).otherwise(F.lit(0)))
            .alias("promo_rev4"),
            F.sum(rev4).alias("total_rev4"),
        )
    )
    return agg.select(
        F.unix_micros(F.col("ship_month")).alias("ship_month_us"),
        # decimal(38,0) keeps rev4*1e6 exact (long would overflow past sf1);
        # `div` is integral division — identical floor semantics to DuckDB //
        F.expr(
            "CAST((CAST(promo_rev4 AS DECIMAL(38,0)) * 1000000)"
            " div total_rev4 AS BIGINT)"
        ).alias("promo_ppm"),
    )


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue locked in small-quantity orders of Brand#1
    parts — lineitems whose quantity is below 20% of that part's average.
    The per-part average is kept as an exact rational (sum, count) and the
    predicate 5·qty·n < sum is pure integer arithmetic — no float boundary
    for a row to flip across engines. The brand's per-part aggregate is
    dimension-sized and broadcast back; the fact is scanned once."""
    _utc(spark)
    p = _read(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    li = _read(spark, sf_dir, "lineitem", spread=True)
    brand_items = li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
    qty_c = (_dec("l_quantity") * F.lit(100)).cast("long")
    per_part = brand_items.groupBy("l_partkey").agg(
        F.sum(qty_c).alias("sum_qty_c"), F.count(F.lit(1)).alias("n_items")
    )
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        brand_items.join(F.broadcast(per_part), "l_partkey")
        .where(qty_c * F.lit(5) * F.col("n_items") < F.col("sum_qty_c"))
        .agg(
            F.sum(rev).cast("double").alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_items_small"),
        )
    )


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds 300 units, with
    the customer attached. The HAVING side is one fact aggregation (exact
    integer cents); survivors are order-count-sized, so the orders/customer
    attachment is a broadcast of the survivors — the big tables are never
    re-shuffled."""
    _utc(spark)
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem", spread=True)
    qty_c = (_dec("l_quantity") * F.lit(100)).cast("long")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty_c).alias("sum_qty_c"))
        .where(F.col("sum_qty_c") > 300 * 100)
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "order_us"
            ),
            (F.col("sum_qty_c") / F.lit(100.0)).alias("total_qty"),
        )
    )


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: one revenue total under an OR-of-ANDs predicate
    spanning both join sides (brand × size × quantity bands). Catalyst
    distributes the disjunction: the part-side conjuncts prune the
    broadcast build, the common quantity bound pushes to the fact scan."""
    _utc(spark)
    p = _read(spark, sf_dir, "part")
    li = _read(spark, sf_dir, "lineitem", spread=True)
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    qty = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & qty.between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(5, 20)
            & qty.between(10, 40)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(10, 40)
            & qty.between(20, 50)
        )
    )
    return j.where(cond).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: per-nation count and balance of customers richer
    than the positive-balance average with no order since 1999. The global
    average is carried as an exact rational (sum_cents, n) broadcast scalar
    — bal·n > sum is integer-exact on both engines — and the no-recent-
    orders test is a LEFT ANTI join against the distinct recent custkeys
    (dimension-sized, broadcast)."""
    _utc(spark)
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    bal_c = (_dec("c_acctbal") * F.lit(100)).cast("long")
    thresh = (
        c.where(F.col("c_acctbal") > 0)
        .agg(
            F.sum(bal_c).alias("sum_bal_c"), F.count(F.lit(1)).alias("n_pos")
        )
    )
    buyers = (
        o.where(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
        .distinct()
    )
    rich = (
        c.crossJoin(F.broadcast(thresh))
        .where(bal_c * F.col("n_pos") > F.col("sum_bal_c"))
        .join(F.broadcast(buyers), c.c_custkey == buyers.o_custkey, "left_anti")
    )
    return rich.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(bal_c).alias("total_bal_cents"),
    )


def q_top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape per nation: the highest-revenue supplier in each
    nation via a rank window over the per-supplier aggregate. One fact
    shuffle on l_suppkey with map-side combine; the ranked relation is
    supplier-sized, so the window and the nation attachment are nearly
    free. Ties break on exact decimal revenue then s_suppkey —
    deterministic across engines."""
    _utc(spark)
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    li = _read(spark, sf_dir, "lineitem", spread=True)
    rev4 = (
        _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")) * F.lit(10000)
    ).cast("long")
    per_supp = li.groupBy("l_suppkey").agg(F.sum(rev4).alias("rev4"))
    ranked = (
        per_supp.join(F.broadcast(s), per_supp.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("n_name").orderBy(
                    F.col("rev4").desc(), F.col("s_suppkey")
                )
            ),
        )
    )
    return ranked.where(F.col("rk") == 1).select(
        "n_name",
        "s_suppkey",
        "s_name",
        (F.col("rev4") / F.lit(10000.0)).alias("total_revenue"),
    )


def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one lineitem shipped more than
    90 days after the order date, counted per priority — an EXISTS
    semi-join whose predicate spans both sides. The semi-join keeps the
    orders side single-scan; lineitem carries only (orderkey, shipdate)
    into the exchange."""
    _utc(spark)
    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem", spread=True).select(
        "l_orderkey", "l_shipdate"
    )
    late = o.join(
        li.hint("shuffle_hash"),
        (o.o_orderkey == li.l_orderkey)
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_late_orders")
    )


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each STANDARD small part, the European
    supplier(s) whose best observed price equals the regional minimum —
    the classic correlated-scalar-subquery shape, expressed as one
    (part, supplier) aggregation plus a min window over the part key (the
    pair relation is orders-of-magnitude smaller than the fact, so the
    window repartition is cheap). Costs compared as exact decimal cents —
    no float boundary can flip a survivor. The European supplier filter
    broadcast-semi-prunes the fact scan before its only shuffle."""
    _utc(spark)
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    p = _read(spark, sf_dir, "part").where(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    li = _read(spark, sf_dir, "lineitem", spread=True)
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name")
    )
    cost_c = (_dec("l_extendedprice") * F.lit(100)).cast("long")
    pair = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .join(F.broadcast(eu), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "s_suppkey", "s_name")
        .agg(F.min(cost_c).alias("cost_c"))
    )
    best = pair.withColumn(
        "best_c", F.min("cost_c").over(Window.partitionBy("l_partkey"))
    )
    return best.where(F.col("cost_c") == F.col("best_c")).select(
        F.col("l_partkey").alias("p_partkey"),
        "s_name",
        (F.col("cost_c") / F.lit(100.0)).alias("min_cost"),
    )


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose NATION_1-supplied value exceeds
    1/1000 of the national total — a group aggregate HAVING against a
    scalar subquery. The threshold compare is exact integer algebra
    (value·1000 > total, both in cents) and the one-row total is
    broadcast, so the fact is scanned once and shuffled once."""
    _utc(spark)
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_1")
    li = _read(spark, sf_dir, "lineitem", spread=True)
    nat_s = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey"
    )
    val_c = (_dec("l_extendedprice") * F.lit(100)).cast("long")
    per_part = (
        li.join(F.broadcast(nat_s), li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(val_c).alias("val_c"))
    )
    total = per_part.agg(F.sum("val_c").alias("total_c"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("val_c") * F.lit(1000) > F.col("total_c"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("val_c") / F.lit(100.0)).alias("value"),
        )
    )


def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    over the observed part↔supplier relation, with a NOT-IN supplier
    exclusion (negative account balance) as a broadcast anti-join. The
    relation is deduped with one (part, supp) shuffle before the
    part-attribute attachment; the count-distinct reuses that exchange."""
    _utc(spark)
    s_excl = _read(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0)
    p = _read(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 9, 13))
    )
    li = _read(spark, sf_dir, "lineitem", spread=True)
    rel = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .join(
            F.broadcast(s_excl.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
    )
    return rel.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


def q_promotable_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: NATION_2 suppliers who moved more than 100 units
    of SMALL parts during 1997 — nested semi-joins feeding a HAVING
    aggregate. The part filter broadcast-semi-prunes the fact before its
    one shuffle; the surviving per-supplier relation is tiny, so the
    supplier/nation attachment broadcasts. Quantities are exact cents."""
    _utc(spark)
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_2")
    p = _read(spark, sf_dir, "part").where(F.col("p_type") == "SMALL")
    li = _read(spark, sf_dir, "lineitem", spread=True)
    qty_c = (_dec("l_quantity") * F.lit(100)).cast("long")
    per_supp = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(qty_c).alias("qty_c"))
        .where(F.col("qty_c") > 100 * 100)
    )
    return (
        per_supp.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .select(
            "s_suppkey",
            "s_name",
            (F.col("qty_c") / F.lit(100.0)).alias("total_qty"),
        )
    )


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: in multi-supplier orders, the supplier who alone
    holds the latest ship date "kept the order waiting" — counted per
    supplier. Spark formulation: one (order, supplier) max-shipdate
    aggregation, then ONE window pass over the order key computing the
    order's supplier count, its max ship date, and how many suppliers
    achieve it; the filter (≥2 suppliers, unique max, mine) replaces the
    classic EXISTS + NOT-EXISTS pair — which is exactly what the DuckDB
    oracle runs, making the two formulations genuinely independent. The
    pair relation is fact-aggregated once; everything after is
    pair-relation-sized."""
    _utc(spark)
    s = _read(spark, sf_dir, "supplier")
    li = _read(spark, sf_dir, "lineitem", spread=True)
    pair = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("pair_ms")
    )
    w = Window.partitionBy("l_orderkey")
    marked = pair.select(
        "l_orderkey",
        "l_suppkey",
        "pair_ms",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.max("pair_ms").over(w).alias("order_ms"),
    ).withColumn(
        "n_at_max",
        F.sum(
            F.when(F.col("pair_ms") == F.col("order_ms"), 1).otherwise(0)
        ).over(w),
    )
    waiting = marked.where(
        (F.col("n_supp") >= 2)
        & (F.col("n_at_max") == 1)
        & (F.col("pair_ms") == F.col("order_ms"))
    )
    return (
        waiting.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_name", "numwait")
    )


def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (windows.asof_join): each purchase attributes to the
    latest prior-or-same-instant click by the same user — one hash shuffle
    on user_id + one ordered window pass, no range explosion, no Python.
    The DuckDB oracle uses its native ASOF LEFT JOIN operator — a fully
    independent formulation of the same semantics. Clicks are pre-deduped
    to max(event_id) per (user, ts) so tie-breaking is engine-independent.
    Gaps are exact epoch-microsecond differences."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events", spread=True)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),  # NTZ parquet, UTC pinned
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"),
                "event_id")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    j = win.asof_join(
        purchases, clicks, on=["user_id"], right_cols=["click_id"]
    )
    return j.select(
        "purchase_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("purchase_us"),
        "click_id",
        F.unix_micros(F.col("_asof_ts")).alias("click_us"),
        (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.col("_asof_ts"))
        ).alias("gap_us"),
    )


def q_range_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded interval join (windows.range_join_within): views by the same
    user within 2 days after each click, counted and value-summed per
    click. The band equi-join (each left row probes exactly two interval
    buckets) replaces the quadratic inequality theta-join; view values are
    quantized to integer micro-units before summing so the aggregate is
    order-independent and engine-exact. Zero-view clicks are kept (left
    outer) with zero counts."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events", spread=True)
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.round(F.col("value") * 1e6, 0).cast("long").alias("value_micro"),
    )
    pairs = win.range_join_within(
        clicks, views, on=["user_id"], interval_sec=2 * 86400
    )
    agg = pairs.groupBy("click_id").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.sum("value_micro").alias("view_value_micros"),
    )
    return (
        clicks.select(
            "click_id", "user_id", F.unix_micros(F.col("ts")).alias("click_us")
        )
        .join(agg.hint("shuffle_hash"), "click_id", "left")
        .select(
            "click_id",
            "user_id",
            "click_us",
            F.coalesce(F.col("n_views"), F.lit(0)).alias("n_views"),
            F.coalesce(F.col("view_value_micros"), F.lit(0)).alias(
                "view_value_micros"
            ),
        )
    )


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history from the events change log (scd.scd2):
    each event is a CDC update of the user's state attribute
    (event_type); 'error' events are delete tombstones that close the
    open interval. Change-compression drops no-op updates; the whole
    operator is ONE hash exchange on user_id (the compression lag and
    the validity lead share a window spec, so Catalyst reuses the
    exchange + sort). Intervals as epoch-micro BIGINTs."""
    from kafka2iceberg_spark import scd

    ev = _read(spark, sf_dir, "events").withColumn(
        "is_del", F.col("event_type") == F.lit("error")
    )
    hist = scd.scd2(
        ev,
        key=["user_id"],
        order=["ts", "event_id"],
        tracked=["event_type"],
        ts_col="ts",
        delete_col="is_del",
    )
    return hist.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("valid_from").cast("timestamp")).alias(
            "valid_from_us"
        ),
        F.unix_micros(F.col("valid_to").cast("timestamp")).alias(
            "valid_to_us"
        ),
        "is_current",
    )


def q_role_day_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily turn counts pivoted to one column per role. The pivot value
    list is EXPLICIT — Spark otherwise runs an extra distinct-collect job
    over the full input to discover it, a driver round-trip worth avoiding
    at 100 TB. Map-side partial aggregation applies as usual; the pivot is
    a single hash aggregate keyed on the day."""
    t = _tx(spark, sf_dir)
    um = F.unix_micros(F.col("ts"))
    # integer day index, no double division (exact at any epoch value)
    day = ((um - um % F.lit(DAY_US)) / F.lit(DAY_US)).cast("long")
    return (
        t.groupBy(day.alias("day_idx"))
        .pivot("role", ["user", "assistant", "tool"])
        .agg(F.count(F.lit(1)))
        .select(
            "day_idx",
            F.coalesce(F.col("user"), F.lit(0)).alias("n_user"),
            F.coalesce(F.col("assistant"), F.lit(0)).alias("n_assistant"),
            F.coalesce(F.col("tool"), F.lit(0)).alias("n_tool"),
        )
    )


def q_cube_role_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (role, tool): all four grouping levels in one pass —
    Spark expands the cube map-side, so the input is scanned once and the
    partial aggregate covers every level (vs four separate scans)."""
    t = _tx(spark, sf_dir)
    return (
        t.cube("role", "tool")
        .agg(
            F.grouping("role").cast("long").alias("g_role"),
            F.grouping("tool").cast("long").alias("g_tool"),
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("conv_id").alias("n_convs"),
        )
        .select(
            F.coalesce(F.col("role"), F.lit("<all>")).alias("role_g"),
            F.coalesce(F.col("tool"), F.lit("<all>")).alias("tool_g"),
            "g_role",
            "g_tool",
            "n",
            "n_convs",
        )
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL surface: exactly the
    (role), (tool), and grand-total slices — the sets a report actually
    needs, without the full cube's (role, tool) level."""
    _tx(spark, sf_dir).createOrReplaceTempView("tx_gsets")
    return spark.sql(
        """
        SELECT coalesce(role, '<all>') AS role_g,
               coalesce(tool, '<all>') AS tool_g,
               CAST(grouping(role) AS BIGINT) AS g_role,
               CAST(grouping(tool) AS BIGINT) AS g_tool,
               count(*) AS n
        FROM tx_gsets
        GROUP BY GROUPING SETS ((role), (tool), ())
        """
    )


# ------------------------------------------- data quality / mixing / search

DQ_STATUS_VALUES = ("O", "F", "P")
MIX_PARTS = {"src0": 8, "src1": 4, "src2": 2, "src3": 2}
BM25_QUERY = ["spark", "join", "window"]


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ/TFDV-style column profiling of orders in ONE aggregate pass
    (dq.profile): per column — rows, nulls, exact distincts, min/max.
    o_totalprice is pre-converted to exact BIGINT cents (float→string
    rendering differs across engines); min/max cast to string post-agg so
    ordering stays numeric."""
    from kafka2iceberg_spark import dq

    o = _read(spark, sf_dir, "orders").withColumn(
        "o_price_cents",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
    )
    return dq.profile(
        o,
        [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_price_cents",
            "o_orderdate",
            "o_orderpriority",
        ],
    )


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout audit: Z-order vs single-column-sort file assignment
    over (l_partkey, l_suppkey), reporting the per-layout average per-file
    key span (ppm of domain) that manifest min/max pruning sees. The sort
    layout bounds l_partkey (~1/64 of domain) and leaves l_suppkey near
    full width; the Morton layout bounds BOTH — the reason
    compact(zorder_by=...) exists (zorder.layout_stats; same lattice math
    as sink compaction, zorder.py zvalue)."""
    from kafka2iceberg_spark import zorder as zo

    li = _read(spark, sf_dir, "lineitem")
    return zo.layout_stats(li, "l_partkey", "l_suppkey", n_files=64)


def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pruning audit in pure relational form: build a
    256-bit / 3-hash membership bitmap over one nation's customer keys
    (double hashing off portable md5 prefixes), probe it with every
    ordering customer, and report pass/true-hit/false-positive counts plus
    the measured fp rate. The bit set (≤256 rows) broadcasts — the
    runtime-filter shape that prunes a probe-side scan before a join."""
    from kafka2iceberg_spark import bloom as bl

    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    build = cust.filter(F.col("c_nationkey") == 1).select(
        F.col("c_custkey").cast("long").alias("k")
    )
    probe = orders.select(
        F.col("o_custkey").cast("long").alias("k")
    ).distinct()
    return bl.prune_stats(build, probe, m_bits=256, k_hashes=3)


def q_mix_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture allocation (the data-mixing step of a training
    pipeline): per-language available whitespace tokens, waterfilled
    against a budget of 2/5 of the corpus — small bins keep everything,
    large bins are capped at a common water level, the integer remainder
    goes to the smallest capped bins. Exact BIGINT closed form: one
    data-sized agg, then rank/prefix windows over the |languages| bin
    domain only (textops.mix_allocation)."""
    d = _read(spark, sf_dir, "documents")
    return tx.mix_allocation(d, "lang", budget_num=2, budget_den=5)


def q_tool_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of tool co-occurrence within a
    conversation: for each unordered tool pair, pmi_nano =
    round(1e9·ln(c_xy·N / (c_x·c_y))) over conversation counts — the
    association strength behind "convs that invoke tool_2 also invoke
    tool_4". Per-conv distinct tool sets (one agg), pair join on the
    |tools|-sized distinct-tool relation, nano-ln quantization for
    engine-exact BIGINT output (assoc.tool_pmi)."""
    from kafka2iceberg_spark import assoc

    return assoc.tool_pmi(_tx(spark, sf_dir))


def q_dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style quality verification of orders in ONE aggregate pass:
    completeness, key uniqueness, bounds, set membership (dq.verify)."""
    from kafka2iceberg_spark import dq

    o = _read(spark, sf_dir, "orders")
    return dq.verify(
        o,
        [
            dq.completeness("o_custkey"),
            dq.unique("o_orderkey"),
            dq.bounds("o_totalprice", 0.0, 600000.0),
            dq.membership("o_orderstatus", DQ_STATUS_VALUES),
            dq.non_negative("o_totalprice"),
        ],
    )


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixing: largest exact-composition sample at parts
    8:4:2:2 across documents.source, deterministic md5 rank (no global
    sort; quota side broadcast)."""
    docs = _read(spark, sf_dir, "documents", spread=True)
    return tx.mixture_sample(docs, "source", MIX_PARTS).select(
        "doc_id", "source", "mix_rank"
    )


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization at exact rank-based p01/p99
    (rankstats.winsorize): one per-group window pass for rank+count,
    conditional agg to |groups| bound rows, broadcast join back — the
    clip bounds are pure integer rank arithmetic, engine-identical."""
    from kafka2iceberg_spark import rankstats as rk

    _utc(spark)
    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    return rk.winsorize(ev, ["event_type"], "v_cents", "event_id")


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers. Moments come from EXACT integer
    cent sums (one small agg, broadcast back) so mu/sigma are the same
    IEEE doubles on any engine; one scan + broadcast join, no window."""
    ev = _read(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    # sample variance from exact sums: (s2 - s1*mu) / (n-1); s1*mu (not
    # s1*s1) keeps the intermediate in double range at any scale while
    # staying the identical IEEE op sequence on both engines
    stats = (
        stats.withColumn("mu", F.col("s1") / F.col("n"))
        .withColumn(
            "sigma",
            F.sqrt(
                (F.col("s2") - F.col("s1") * F.col("mu"))
                / (F.col("n") - 1)
            ),
        )
        .select("event_type", "mu", "sigma")
    )
    z = (F.col("cents") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("z", F.round(z, 4))
        .where(F.abs(F.col("z")) >= 3.0)
        .select("event_id", "event_type", "cents", "z")
    )


def q_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over documents: token -> df, total tf, capped
    postings (top-5 docs by tf) — one explode + token-keyed aggregation."""
    from kafka2iceberg_spark import search

    docs = _read(spark, sf_dir, "documents", spread=True)
    return search.inverted_postings(docs, max_postings=5, min_df=2)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a fixed term query; tf relation filtered to the
    query's terms before any join, df/idf side broadcast."""
    from kafka2iceberg_spark import search

    docs = _read(spark, sf_dir, "documents", spread=True)
    return search.bm25_topk(docs, BM25_QUERY, k=10)


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between click and view value
    distributions (rankstats.psi): dollar-wide bins, Laplace-smoothed
    shares, per-bin terms quantized to integer nanos before the
    order-free sum — the third drift lens beside ks_drift and
    cusum_drift."""
    from kafka2iceberg_spark import rankstats as rk

    _utc(spark)
    ev = (
        _read(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "view"))
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("v_cents"),
        )
    )
    return rk.psi(ev, "event_type", "v_cents", bucket_width=100)


def q_sla_breaches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timeout-pattern CEP (state.sla_breaches_batch — Flink CEP's
    notFollowedBy(...).within(T), the absence-of-event pattern class):
    every user turn flagged if no assistant reply followed within 1 h.
    One reversed-cumulative conditional-min window per conversation —
    no self-join, no range explosion."""
    from kafka2iceberg_spark import state as st

    _utc(spark)
    tr = transcripts(spark, sf_dir).withColumn(
        "tid", F.col("turn_idx").cast("long")
    )
    return st.sla_breaches_batch(
        tr, sla_us=3_600_000_000, id_col="tid"
    )


def q_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→first-purchase conversion-lag percentiles: exact p50/p90
    selected from a SECOND-granularity lag histogram (the gini/ks
    distinct-value discipline — the ranking window never touches the
    user domain), with the rank index in pure integer ceil arithmetic.
    Two user-keyed aggregations + one tiny histogram window."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("eu"),
    )
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("eu").alias("s_eu"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(s.hint("shuffle_hash"), "user_id")
        .where(F.col("eu") >= F.col("s_eu"))
        .groupBy("user_id")
        .agg(F.min("eu").alias("p_eu"), F.first("s_eu").alias("s_eu"))
    )
    lags = p.select(
        F.expr("(p_eu - s_eu) div 1000000").alias("lag_s")
    )
    hist = lags.groupBy("lag_s").agg(F.count(F.lit(1)).alias("_c"))
    w = Window.orderBy("lag_s").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("_cum", F.sum("_c").over(w))
    tot = hist.agg(F.sum("_c").alias("n_users"))
    idx = lambda ppm: F.expr(  # noqa: E731
        f"(cast({ppm} as bigint) * n_users + 999999) div 1000000"
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.first("n_users").alias("n_users"),
            F.min(
                F.when(F.col("_cum") >= idx(500_000), F.col("lag_s"))
            ).alias("p50_lag_s"),
            F.min(
                F.when(F.col("_cum") >= idx(900_000), F.col("lag_s"))
            ).alias("p90_lag_s"),
        )
    )


def q_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (rankstats.cuped): per-user
    pre-period spend (first half of the month) adjusts the post-period
    metric; theta, adjusted means, and the variance reduction rho²
    derive algebraically from one pass of exact BIGINT moment sums — no
    per-row double exists anywhere."""
    from kafka2iceberg_spark import rankstats as rk

    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    cut = "2024-01-16"
    users = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("ts") < cut, cents)), F.lit(0)
        ).alias("pre_cents"),
        F.coalesce(
            F.sum(F.when(F.col("ts") >= cut, cents)), F.lit(0)
        ).alias("post_cents"),
    )
    users = users.withColumn(
        "variant",
        F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B")),
    )
    return rk.cuped(users, "variant", "pre_cents", "post_cents")


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic between the click and view value
    distributions (rankstats.ks_test): per-value histograms, cumulative
    counts over the DISTINCT value domain, sup in common-denominator
    integers — the only float is the final division."""
    from kafka2iceberg_spark import rankstats as rk

    _utc(spark)
    ev = (
        _read(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "view"))
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("v_cents"),
        )
    )
    return rk.ks_test(ev, "event_type", "v_cents")


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B two-proportion z-test (rankstats.two_proportion_z): users
    split by id parity, success = at least one purchase event; one
    per-user aggregation + one per-variant aggregation, then the pooled
    z statistic as a single fixed double expression over four exact
    BIGINT counts."""
    from kafka2iceberg_spark import rankstats as rk

    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("converted")
    )
    users = users.withColumn(
        "variant",
        F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B")),
    )
    return rk.two_proportion_z(users, "variant", "converted")


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type outliers via exact median absolute
    deviation (rankstats.mad_outliers): rank-selected lower medians, an
    all-integer flag comparison (|x−med|·1e6 > k·MAD) — the
    breakdown-resistant twin of anomaly_zscore, engine-identical with no
    sigma estimate."""
    from kafka2iceberg_spark import rankstats as rk

    _utc(spark)
    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    return rk.mad_outliers(ev, ["event_type"], "v_cents", "event_id")


def q_price_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature least squares per brand (rankstats.ols2): regress
    line revenue (cents) on quantity and discount (ppm) — nine exact
    BIGINT moment sums in one aggregation pass (the only data-sized
    work), then Cramer's rule on the 3×3 normal equations in one fixed
    parenthesization the oracle replays verbatim. Dimension broadcast."""
    from kafka2iceberg_spark import rankstats as rk

    _utc(spark)
    li = _read(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_discount") * 1_000_000)
        .cast("long")
        .alias("disc_ppm"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    part = _read(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = li.join(
        F.broadcast(part), li["l_partkey"] == part["p_partkey"]
    )
    return rk.ols2(
        joined, "price_cents", "qty", "disc_ppm", ["p_brand"]
    ).orderBy("p_brand")


def q_conv_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation survival curve: for each observed depth k, how many
    conversations reach ≥ k turns and the exact ppm share — the
    retention/curriculum statistic behind max-turn truncation choices.
    Same scale discipline as conv_size_gini: lengths collapse to a
    histogram first, the reverse-cumulative window runs over DISTINCT
    depth values (tiny domain), never the conv_id domain; shares are
    exact integer ppm."""
    _utc(spark)
    sizes = (
        transcripts(spark, sf_dir)
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("_len"))
    )
    hist = sizes.groupBy(F.col("_len").alias("n_turns")).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    w = Window.orderBy(F.desc("n_turns")).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = hist.agg(F.sum("_cnt").alias("_total"))
    return (
        hist.withColumn("n_reaching", F.sum("_cnt").over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "n_turns",
            "n_reaching",
            F.expr("(n_reaching * 1000000) div _total").alias(
                "survival_ppm"
            ),
        )
    )


def q_lang_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the n-gram-marker language classifier and
    the recorded lang label (rankstats.cohens_kappa): one confusion
    aggregation is the only data-sized pass; all kappa terms stay exact
    BIGINTs (the (po-pe)/(1-pe) form multiplied through by n²), one
    final division."""
    from kafka2iceberg_spark import rankstats as rk

    _utc(spark)
    d = _read(spark, sf_dir, "documents")
    pred = d.select("lang", tx.lang_id(F.col("text")).alias("pred"))
    return rk.cohens_kappa(pred, "lang", "pred")


def q_conv_size_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of conversation sizes (rankstats.gini) — the
    skew diagnostic behind the salting decision: equal sizes collapse to
    a histogram, tie-runs contribute closed-form arithmetic-series
    terms, so the ranking window runs over distinct SIZE VALUES, never
    the conv_id domain. Exact BIGINT numerators, one final division."""
    from kafka2iceberg_spark import rankstats as rk

    _utc(spark)
    sizes = (
        transcripts(spark, sf_dir)
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
    )
    return rk.gini(sizes, "n_turns")


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (textops.readability): exact
    integer word/sentence/syllable-proxy counts computed JVM-side (vowel
    groups floored at 1/word via a higher-order aggregate — no explode,
    no shuffle), one fixed-parenthesization double at the end. A pure
    projection: rides the text scan at any scale."""
    _utc(spark)
    return tx.readability(_read(spark, sf_dir, "documents"))


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (search.rrf_fuse, Cormack et al. 2009): BM25
    top-20 (lexical) fused with brute-cosine top-20 for query vector 0
    (dense — documents and embeddings share the id space) by integer
    reciprocal-rank fusion, k=60. Fusion inputs are already-top-n lists,
    so the union + id-keyed sum is O(queries × n) regardless of corpus
    size; scores are exact BIGINTs (10^12 div (k + rank)) so the fused
    ranking is engine-identical."""
    from kafka2iceberg_spark import search

    docs = _read(spark, sf_dir, "documents", spread=True)
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    lex = search.bm25_topk(docs, BM25_QUERY, k=20).withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("score"), F.asc("doc_id"))
        ),
    )
    dense = sim.brute_topk(emb, emb.where(F.col("vec_id") == 0), k=20)
    return search.rrf_fuse(
        [
            lex.select("doc_id", "rank"),
            dense.select(F.col("neighbor_id").alias("doc_id"), "rank"),
        ],
        topn=10,
    )


def q_json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path: pull props.$.k out of the JSON column and
    aggregate exactly per event type (codegen'd JSON path, no UDF)."""
    ev = _read(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_k"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


def q_ts_resample_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly time series per event type: resample (one bucketed agg)
    then gap-fill — per-key grid via sequence+explode, zero-filled counts,
    LOCF cent-sums over a per-key ordered window (timeseries.gap_fill).
    Spark has no native densify; this is the engine operator for it. Cent
    sums are exact BIGINTs so LOCF values are engine-identical."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    r = ts.resample(ev, "ts", hour_us, ["event_type"], value_col="value")
    return ts.gap_fill(r, hour_us, ["event_type"], locf_cols=["v_cents"])


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over events (timeseries.cohort_retention):
    users keyed to their first-activity week, distinct-user activity at
    each week offset, parts-per-million retention — integer-exact."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    week_us = 7 * DAY_US
    return ts.cohort_retention(ev, "ts", "user_id", week_us)


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram-sketch quantiles (sketches.hist_registers /
    hist_quantiles): p50/p90/p99 of event value per type from a fixed-bin
    cent histogram — one pre-combined shuffle of bin summaries, exact
    integer ranks, one interpolation division. The mergeable counterpart
    to exact percentile_approx at 100 TB (partial histograms sum)."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    h = sk.hist_registers(ev, F.col("cents"), ["event_type"], 100)
    return sk.hist_quantiles(h, ["event_type"], 100, [50, 90, 99])


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-round statistics (textops.bpe_pair_counts): top-50
    corpus-weighted adjacent character pairs over the distinct-word
    frequency dictionary — the argmax candidates of a tokenizer trainer's
    first merge. Counts collapse to vocabulary before any pair math."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return tx.bpe_pair_counts(docs, "text", top_k=50)


def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing revenue per event type: daily exact-cent partials,
    then a RANGE window (6 preceding days .. current) per type — one
    bucketed agg + one per-key ordered window over day summaries, never
    raw rows. The moving average is the single float op, from exact
    integer sums."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    um = F.unix_micros(F.col("ts").cast("timestamp"))
    # integer day index, no double division (exact at any epoch value,
    # same truncation semantics as the oracle's integer division)
    daily = ev.groupBy(
        "event_type",
        ((um - um % F.lit(DAY_US)) / F.lit(DAY_US))
        .cast("long")
        .alias("day"),
    ).agg(
        F.sum("cents").alias("day_cents"),
        F.count(F.lit(1)).alias("day_n"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "event_type",
        (F.col("day") * DAY_US).alias("day_us"),
        "day_cents",
        F.sum("day_cents").over(w).alias("roll_cents"),
        F.sum("day_n").over(w).alias("roll_n"),
        F.round(
            F.sum("day_cents").over(w) / F.sum("day_n").over(w), 6
        ).alias("roll_avg_cents"),
    )


def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality scores (textops.bigram_lm_scores):
    add-one-smoothed per-doc mean bigram log-prob under the corpus's own
    model — integer nano-ln aggregation, engine-exact."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return tx.bigram_lm_scores(docs)


def q_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs sparse TF-cosine similarity (search.sparse_cosine_pairs):
    candidate pairs generated by a df-capped postings self-join — docs are
    compared only when they share a non-stopword-grade token. Exact
    integer dot/norms; one IEEE sqrt + division per surviving pair."""
    from kafka2iceberg_spark import search

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return search.sparse_cosine_pairs(docs, max_df=100, min_cos=0.30)


def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection (timeseries.cusum_flags) over daily revenue
    per event type: the sequential recurrence folds per-key day summaries
    in one higher-order aggregate (JVM-side), flagged when the one-sided
    statistic clears the threshold. Oracle = recursive-CTE replay of the
    identical integer recurrence."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    r = ts.resample(ev, "ts", DAY_US, ["event_type"], value_col="value")
    return ts.cusum_flags(
        r,
        ["event_type"],
        "v_cents",
        target_cents=300_000,
        slack_cents=10_000,
        threshold_cents=150_000,
    )


def q_trend_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type revenue trend (timeseries.trend): least-squares slope /
    intercept / R² from ONE aggregation of exact integer moment sums over
    daily summaries; final divisions are the only floats."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    r = ts.resample(ev, "ts", DAY_US, ["event_type"], value_col="value")
    daily = r.select(
        "event_type",
        (F.col("bucket_us") / F.lit(DAY_US)).cast("long").alias("x"),
        F.col("v_cents").alias("y"),
    )
    return ts.trend(daily, ["event_type"], "x", "y")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 PageRank centrality (graph.pagerank) over the bidirectional
    customer<->supplier purchase graph: 3 fixed iterations of the exact
    BIGINT fixed-point recurrence, each one shuffle-hash join + partial-agg
    sum per round, lineage truncated per round. Oracle = 3 unrolled CTE
    replays of the identical integer recurrence."""
    from kafka2iceberg_spark import graph as gr

    _utc(spark)
    edges = gr.copurchase_edges(
        _read(spark, sf_dir, "orders"), _read(spark, sf_dir, "lineitem")
    )
    ranks = gr.pagerank(edges, iters=3)
    return ranks.orderBy(F.desc("rank_fp"), "node").limit(25)


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (graph.hits, 2 rounds) over the bipartite
    customer→part purchase graph: per-round max-normalized integer
    fixed-point, so the DuckDB oracle replays every half-round as an
    unrolled CTE bit-identically. Top-25 per side, node tie-break."""
    from kafka2iceberg_spark import graph as gr

    _utc(spark)
    edges = gr.purchase_edges(
        _read(spark, sf_dir, "orders"), _read(spark, sf_dir, "lineitem")
    )
    sc = gr.hits(edges, rounds=2)
    w = Window.partitionBy("side").orderBy(F.desc("score_fp"), "node")
    return (
        sc.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 25)
        .select("side", "node", "score_fp", "rk")
    )


def q_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    (timeseries.transition_counts): one per-user window (lag), one tiny
    |types|² aggregation, exact-integer probability division."""
    _utc(spark)
    return ts.transition_counts(_read(spark, sf_dir, "events"))


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer EWMA (alpha=1/2) smoothing of daily revenue per event type
    (timeseries.ewma): the dyadic halving recurrence folded JVM-side over
    resampled bucket summaries — engine-exact BIGINTs throughout; oracle
    replays the recurrence with a recursive CTE."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    r = ts.resample(ev, "ts", DAY_US, ["event_type"], value_col="value")
    return ts.ewma(r, ["event_type"], "v_cents")


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential (trend-aware) smoothing of daily revenue
    per event type (timeseries.holt_linear, alpha=beta=1/2): level + trend
    recurrence folded JVM-side over resampled summaries in exact BIGINTs
    (Spark ``div`` and DuckDB ``//`` both truncate toward zero, so the
    negative trend values on falling days stay engine-identical); oracle
    replays the two-register recurrence with a recursive CTE."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    r = ts.resample(ev, "ts", DAY_US, ["event_type"], value_col="value")
    return ts.holt_linear(r, ["event_type"], "v_cents")


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars per event type (timeseries.ohlc): open/close are
    rank-selected under the total order (ts, event_id), high/low plain
    min/max — one window pass + one conditional agg, exact cents."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events").withColumn(
        "v_cents", F.round(F.col("value") * 100).cast("long")
    )
    return ts.ohlc(ev, "ts", "event_id", ["event_type"], "v_cents", DAY_US)


def q_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily time-weighted average value per event type (timeseries.twap):
    each observation weighted by its hold time to the next event (bucket
    end closes the last interval) — exact integer micro-weights, one
    window pass, one final division."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events").withColumn(
        "v_cents", F.round(F.col("value") * 100).cast("long")
    )
    return ts.twap(ev, "ts", "event_id", ["event_type"], "v_cents", DAY_US)


def q_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-floored running balance per event type
    (timeseries.running_balance): daily net delta = revenue cents minus
    a 50.00 drain per event; the clamp at zero is a nonlinear
    recurrence (a window cumsum would over-credit recoveries after a
    shortfall), folded JVM-side and replayed by a recursive-CTE oracle
    together with the cumulative lost amount."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    r = ts.resample(ev, "ts", DAY_US, ["event_type"], value_col="value")
    deltas = r.select(
        "event_type",
        "bucket_us",
        (F.col("v_cents") - F.col("n") * 5000).alias("delta_cents"),
    )
    return ts.running_balance(deltas, ["event_type"], "delta_cents")


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential Poisson weighted sample (textops.seq_poisson_sample,
    Ohlsson 1998): k=50 documents drawn probability-proportional-to-size
    by n_chars — deterministic Lehmer-step uniforms, one scan, O(k)
    result via per-partition TakeOrdered (no global sort)."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return tx.seq_poisson_sample(docs, "n_chars", k=50)


def q_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto front (rankstats.pareto_front) on (cheapest price,
    largest size): the O(n log n) running-max window recipe vs. the
    oracle's independent quadratic NOT-EXISTS dominance formulation."""
    from kafka2iceberg_spark import rankstats as rk

    _utc(spark)
    parts = _read(spark, sf_dir, "part").select(
        "p_brand",
        "p_partkey",
        F.round(F.col("p_retailprice") * 100)
        .cast("long")
        .alias("price_cents"),
        "p_size",
    )
    return rk.pareto_front(
        parts, "p_brand", "price_cents", "p_size", "p_partkey"
    )


def q_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Spearman rho (rankstats.spearman) between customer
    account balance and order count — exact integer sum of squared rank
    differences, one final division; customers with no orders count as 0
    via the left join."""
    from kafka2iceberg_spark import rankstats as rk

    _utc(spark)
    cust = _read(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    ocnt = (
        _read(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    j = cust.join(
        ocnt, cust["c_custkey"] == ocnt["o_custkey"], "left"
    ).select(
        "c_custkey",
        "c_nationkey",
        "bal_cents",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )
    return rk.spearman(j, "c_nationkey", "bal_cents", "n_orders", "c_custkey")


def q_butterflies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customer pairs by shared suppliers + butterfly counts
    (graph.butterfly_pairs): bipartite 2x2-biclique cohesion with the
    documented max_degree=500 hub cap (binds at sf0.01 — exercised, not
    decorative). Oracle = independent SQL wedge join."""
    from kafka2iceberg_spark import graph as gr

    _utc(spark)
    rel = (
        _read(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .join(
            _read(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_suppkey").alias("supp"),
        )
    )
    out = gr.butterfly_pairs(rel, max_degree=500)
    return out.orderBy(F.desc("shared"), "c1", "c2").limit(20)


def q_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept-anchor debounce (timeseries.debounce): at most one event per
    (user, type) per 10 minutes, each survivor measured against the last
    KEPT event — the sequential anchor recurrence folded JVM-side; oracle
    replays it with a recursive CTE."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    return ts.debounce(
        ev, ["user_id", "event_type"], min_gap_us=600_000_000
    )


def q_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon token entropy (textops.source_entropy): corpus
    diversity via the order-free nano-ln integer aggregation."""
    _utc(spark)
    return tx.source_entropy(_read(spark, sf_dir, "documents"))


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part-pair association rules (assoc.association_rules):
    Apriori level-2 via one basket-keyed self-join (per-basket work
    bounded by basket size, not catalog size); confidence/lift from
    exact BIGINT counts."""
    from kafka2iceberg_spark import assoc

    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    out = assoc.association_rules(
        li, "l_orderkey", "l_partkey", min_support=2
    )
    return out.orderBy(
        F.desc("support"), "item_a", "item_b"
    ).limit(20)


def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily-revenue autocorrelation at lags 1-3
    (timeseries.autocorr): exact BIGINT moment formulation, one window
    pass + one aggregation, single final division per lag."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    r = ts.resample(ev, "ts", DAY_US, ["event_type"], value_col="value")
    return ts.autocorr(r, ["event_type"], "v_cents", max_lag=3)


def q_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality per event type (timeseries.dow_profile):
    weekday from pure epoch-day arithmetic (engine-identical, unlike
    dialect-divergent dayofweek()), exact ppm shares."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    r = ts.resample(ev, "ts", DAY_US, ["event_type"], value_col="value")
    return ts.dow_profile(r, ["event_type"], "v_cents")


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch set algebra (sketches.kmv_set_ops): union/intersection
    distinct-user estimates for click vs view audiences from two 256-value
    sketches alone — the mergeable-summary path; deterministic md5 hashes
    make the estimates engine-exact."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click")
    b = ev.where(F.col("event_type") == "view")
    ucol = F.col("user_id").cast("string")
    return sk.kmv_set_ops(a, b, ucol, ucol, k=256)


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier triangle counts (graph.triangle_counts) over the
    co-order projection (graph.supplier_coorder_edges, min_shared=30):
    degree-ordered wedge enumeration (Schank-Wagner) so wedge work is
    bounded by Σ outdeg² = O(m·√m), not hub-degree². Oracle = independent
    SQL a<b<c closed-wedge join credited to all three corners.

    The co-order edge list (aggregation-shrunk: supplier pairs sharing
    ≥30 orders) is COMMITTED to a table first — triangle_counts
    references its input three times (both wedge sides + closure), and
    materializing the projection keeps those as three cheap table scans
    instead of three runs of the lineitem self-join pipeline (was the
    suite's heaviest plan at 174 exchanges)."""

    from kafka2iceberg_spark import graph as gr
    from kafka2iceberg_spark.sink import IcebergLite

    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    work = _workdir("tri_edges_")
    t = IcebergLite(f"{work}/edges", pk=[], partition_field=None)
    t.commit_append(gr.supplier_coorder_edges(li, min_shared=30), "0")
    return gr.triangle_counts(t.read(spark)).orderBy("node")


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication stats (dedup.dup_span_stats): per-doc
    coverage by word 4-grams occurring >= 2 times corpus-wide — the Lee
    et al. 2021 boilerplate detector document-level dedup misses. The
    merge-intervals sweep (running-max window over span starts) keeps
    overlapping spans from double-counting; oracle replays the identical
    sweep in SQL."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return dd.dup_span_stats(docs, n=4).orderBy("doc_id")


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (similarity.kmeans_lloyd, k=8, iters=2): deterministic
    min-id seeding, integer-L2² assignment via a JVM array_min argmin,
    truncated-mean centroid updates held driver-side (k·dim scalars) and
    broadcast — the MLlib discipline, zero wide exchanges over the data.
    Oracle unrolls the identical three assignment passes in SQL."""
    _utc(spark)
    emb = _read(spark, sf_dir, "embeddings")
    return sim.kmeans_lloyd(emb, k=8, iters=2).orderBy("vec_id")


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop flags (dedup.semdedup_flags): within-cluster
    cosine >= 0.35 to a lower id ⇒ drop — deterministic min-id survivor
    per duplicate link, cluster-blocked pairwise join. Oracle = quadratic
    within-label SQL with the identical round-6 cosine."""
    _utc(spark)
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    return dd.semdedup_flags(emb, threshold=0.35).orderBy("vec_id")


def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar / Resource-Allocation link prediction
    (graph.adamic_adar_topk) over the supplier co-order projection:
    top-20 non-adjacent distance-2 pairs by Σ 1/ln(deg(z)) over common
    neighbours z. Integer micro-unit weight sums (order-insensitive) —
    the DuckDB oracle replays the identical quantization.

    Like q_triangles, the co-order edge list is committed to a table
    first: adamic_adar_topk references its input five times (both adj
    directions for degrees and both wedge sides, plus the anti probe),
    and materializing keeps those as cheap table scans instead of five
    runs of the lineitem self-join pipeline (78 exchanges inlined)."""

    from kafka2iceberg_spark import graph as gr
    from kafka2iceberg_spark.sink import IcebergLite

    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    work = _workdir("aa_edges_")
    t = IcebergLite(f"{work}/edges", pk=[], partition_field=None)
    t.commit_append(gr.supplier_coorder_edges(li, min_shared=30), "0")
    return gr.adamic_adar_topk(t.read(spark), k=20)


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the supplier co-order projection (graph.kcore_peel,
    4 fixed peeling rounds): iteratively drop degree<3 nodes; exact
    integer counting per round, so the DuckDB oracle replays the peel
    with unrolled CTEs. Converged peel ⇒ extra rounds are no-ops."""
    from kafka2iceberg_spark import graph as gr

    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    edges = gr.supplier_coorder_edges(li, min_shared=30)
    return gr.kcore_peel(edges, k=3, rounds=4).orderBy("node")


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (graph.bfs_hops, 3 rounds) from NATION_1's
    suppliers over the co-order projection: hop = shortest distance to
    any seed. Frontier expansion is one shuffle-hash join + anti-join per
    round (each node visited once, O(E) total); exact integer hops make
    the DuckDB oracle an unrolled-CTE replay."""
    from kafka2iceberg_spark import graph as gr

    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_1")
    edges = gr.supplier_coorder_edges(li, min_shared=30)
    seeds = s.join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi"
    ).select(F.col("s_suppkey").alias("node"))
    return gr.bfs_hops(edges, seeds, rounds=3).orderBy("node")


def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view→click→purchase within 3 days
    (timeseries.window_funnel, ClickHouse windowFunnel analogue). The
    chain-anchor recurrence depends on its own output, so it runs as the
    repo's per-key JVM fold over (ts, event_id)-sorted events — exact
    integer microseconds, engine-identical; the oracle replays the
    recurrence with a recursive CTE."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    return ts.window_funnel(
        ev,
        ["view", "click", "purchase"],
        window_us=3 * 86_400_000_000,
    ).orderBy("user_id")


def q_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second frequency moment (self-join size) estimate of events.user_id
    via the AMS tug-of-war sketch (sketches.ams_f2_estimate): 64 ±1
    counters from salted md5 signs, median-of-means over 4 groups. The
    shuffle carries ≤64 rows per partition regardless of input size and
    counter tables merge by addition — the planner-side join-size probe
    at 100 TB. Oracle: verbatim integer replay."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    return sk.ams_f2_estimate(ev, F.col("user_id"))


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source token
    distributions (textops.source_js_divergence): usage-level domain
    similarity for mixture weighting, 0 = identical, ln2 = disjoint.
    Only vocabulary intersections are joined (private tokens contribute
    closed-form ln2 mass); nano-nat quantized logs keep the sums exact
    BIGINTs, replayed verbatim by the oracle."""
    _utc(spark)
    d = _read(spark, sf_dir, "documents")
    return tx.source_js_divergence(d).orderBy("source_a", "source_b")


def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bellman-Ford shortest paths (graph.sssp, 3 relaxation rounds)
    from NATION_1's suppliers over the co-order projection, edge cost =
    1e6 div shared-order count (strong ties are cheap). Per round one
    shuffle-hash join + min-agg; exact BIGINT distances make the DuckDB
    oracle an unrolled-CTE replay of the ≤3-edge shortest distances."""
    from kafka2iceberg_spark import graph as gr

    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_1")
    edges = gr.supplier_coorder_edges(li, min_shared=30).select(
        "node_a",
        "node_b",
        F.expr("1000000 div shared").cast("long").alias("w"),
    )
    seeds = s.join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi"
    ).select(F.col("s_suppkey").alias("node"))
    return gr.sssp(edges, seeds, rounds=3).orderBy("node")


def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution (windows.multitouch_attribution):
    each purchase's value split equally across the user's clicks in the
    preceding hour — banded range join (two bucket probes per click,
    zero cartesian) + ONE window pass per conversion. Weights are exact
    integer ppm (1e6 div n); credit is the single final double multiply."""
    _utc(spark)
    # UTC-pinned NTZ→TIMESTAMP cast (range_join_within needs unix_micros)
    ev = _read(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    touches = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("touch_id")
    )
    convs = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("conv_id"), "value"
    )
    return win.multitouch_attribution(
        touches, convs, ["user_id"], window_sec=3600, model="linear"
    ).orderBy("conv_id", "touch_id")


def q_cross_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-domain LM filter (textops.cross_lm_scores, Wenzek et al.
    2020 CCNet-style): every document scored under the add-one bigram LM
    fitted ONLY on the src0 slice — the trusted-domain ranking used to
    filter crawl text. Train-side relations are vocabulary-sized; the
    scored corpus pays one bigram-keyed join (plan-neutral vs the
    in-corpus scorer). Nano-ln quantized, oracle-replayed."""
    _utc(spark)
    d = _read(spark, sf_dir, "documents")
    train = d.where(F.col("source") == "src0")
    return tx.cross_lm_scores(d, train).orderBy("doc_id")


def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes source classification (textops.nb_classify):
    train on doc_id % 5 != 0, classify the held-out fifth. The model is
    two count relations (per-class priors broadcast, per-(token, class)
    likelihoods shuffle-hash-joined on token); scores are exact nano-ln
    BIGINTs so the argmax is engine-identical. The oracle replays the
    same add-one-smoothed formulation independently in SQL."""
    _utc(spark)
    d = _read(spark, sf_dir, "documents")
    train = d.where(F.col("doc_id") % 5 != 0)
    test = d.where(F.col("doc_id") % 5 == 0)
    return tx.nb_classify(train, test).orderBy("doc_id")


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic label-propagation communities
    (graph.label_propagation, 3 synchronous rounds, smallest-label ties)
    over the supplier co-order projection — frequency-based adoption
    stops at dense community boundaries, unlike the min-label
    connected-components propagation. Exact integer counts/ids ⇒ the
    DuckDB oracle replays every round as an unrolled CTE."""
    from kafka2iceberg_spark import graph as gr

    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    edges = gr.supplier_coorder_edges(li, min_shared=30)
    return gr.label_propagation(edges, rounds=3).orderBy("node")


def q_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup against the SCD2 history — the
    composite every warehouse needs: each purchase joined to the user's
    state AS OF the instant before the purchase (strict), with gap
    correctness (facts inside a tombstone gap get NULL, not the stale
    pre-delete state). Shape: scd.scd2 (one exchange) + windows.asof_join
    on valid_from (union + ordered window — no interval theta-join), then
    one CASE closing the valid_to edge. The oracle replays the interval
    semantics with a direct BETWEEN join over the same history."""
    from kafka2iceberg_spark import scd

    _utc(spark)
    ev = (
        _read(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("is_del", F.col("event_type") == F.lit("error"))
    )
    hist = scd.scd2(
        ev.select("user_id", "ts", "event_id", "event_type", "is_del")
        .distinct(),
        key=["user_id"],
        order=["ts", "event_id"],
        tracked=["event_type"],
        ts_col="ts",
        delete_col="is_del",
    ).select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("valid_from"),
        F.col("valid_to"),
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    j = win.asof_join(
        purch,
        hist,
        on=["user_id"],
        left_ts="ts",
        right_ts="valid_from",
        right_cols=["state", "valid_to"],
        strict=True,
    )
    in_interval = F.col("_asof_ts").isNotNull() & (
        F.col("valid_to").isNull() | (F.col("ts") <= F.col("valid_to"))
    )
    return j.select(
        "purchase_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.when(in_interval, F.col("state")).alias("state_at_purchase"),
    ).orderBy("purchase_id")


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law slope/intercept over the top-100 corpus tokens
    (textops.zipf_fit): exact integer moment sums of micro-quantized
    ln(rank)/ln(freq); one final double expression."""
    d = _read(spark, sf_dir, "documents", spread=True)
    return tx.zipf_fit(d, top_n=100)


def q_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source vocabulary Jaccard (textops.source_vocab_overlap):
    distinct (source, token) scan, token-keyed self-join (fanout ≤
    |sources|² per token), broadcast vocabulary sizes."""
    d = _read(spark, sf_dir, "documents", spread=True)
    return tx.source_vocab_overlap(d).orderBy("source_a", "source_b")


def _docs_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with the exact-ppm quality score and the lang=='en'
    binary label — shared input of the classifier-eval trio (AUC /
    calibration / rank-trend). One projected scan; the score is the same
    integer expression text_quality exposes, so the oracle twin is the
    shared _QPPM CTE."""
    d = _read(spark, sf_dir, "documents", spread=True)
    return d.select(
        "source",
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        tx.quality_ppm(F.col("text")).alias("score_ppm"),
        (F.col("lang") == "en").alias("is_en"),
    )


def q_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ROC AUC of the quality score against the lang=='en'
    label (rankstats.roc_auc): exact tie-corrected rank-sum AUC — the
    eval a classifier-based corpus filter runs before its threshold is
    trusted. Two windows + one aggregate per source, nothing global."""
    from kafka2iceberg_spark import rankstats as rk

    _utc(spark)
    return rk.roc_auc(
        _docs_scored(spark, sf_dir), ["source"], "score_ppm", "is_en"
    )


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Expected Calibration Error of the quality score in 10
    equal-width ppm bins (rankstats.ece_calibration): all-BIGINT bin
    numerators, one division per group — is the score usable as a
    sampling probability, not just a ranking?"""
    from kafka2iceberg_spark import rankstats as rk

    _utc(spark)
    return rk.ece_calibration(
        _docs_scored(spark, sf_dir), ["source"], "score_ppm", "is_en"
    )


def q_len_quality_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Kendall τ-b between document length and quality score
    (rankstats.kendall_tau): Knight's O(n log n) merge-count per group —
    the all-pairs relation is never materialized; the oracle replays the
    quadratic self-join definition at sf0.01 scale."""
    from kafka2iceberg_spark import rankstats as rk

    _utc(spark)
    return rk.kendall_tau(
        _docs_scored(spark, sf_dir), ["source"], "n_chars", "score_ppm"
    )


def q_dup_span_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup with removal (dedup.dup_span_remove): tokens
    covered by corpus-duplicated word 4-grams are cut and the cleaned
    normalized text re-emitted — Lee et al. 2021's ExactSubstr deletion,
    the actionable twin of dup_spans."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return dd.dup_span_remove(docs, n=4).orderBy("doc_id")


def q_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototype-distance pruning scores (similarity.label_centroid_dists):
    exact integer L2² to the own-label centroid, k farthest flagged —
    one scan + broadcast centroids, zero pandas."""
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    return sim.label_centroid_dists(emb)


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of the quality score
    (rankstats.quantile_normalize): each doc's score is replaced by the
    pooled distribution's value at its within-source percentile — exact
    int64 grid algebra, pooled CDF aggregated over distinct values only,
    grid broadcast back."""
    from kafka2iceberg_spark import rankstats as rk

    _utc(spark)
    d = _docs_scored(spark, sf_dir).select("source", "doc_id", "score_ppm")
    return rk.quantile_normalize(d, ["source"], "score_ppm", "doc_id")


def q_lang_source_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence cells between source and lang
    (rankstats.chi2_cells): exact BIGINT deviation numerators, one double
    division per cell; which cells drive the source-language association."""
    from kafka2iceberg_spark import rankstats as rk

    _utc(spark)
    d = _read(spark, sf_dir, "documents").select("source", "lang")
    return rk.chi2_cells(d, "source", "lang")


def q_interleaved_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-interleaved shard assignment for training
    loaders (textops.interleaved_shards): round-robin positions from pure
    rank arithmetic — one per-source rank window + a broadcast group
    index, no global sort."""
    _utc(spark)
    d = _read(spark, sf_dir, "documents").select("source", "doc_id")
    return tx.interleaved_shards(d, "source", "doc_id", n_shards=8)


def q_weighted_median_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-weighted median quality per source (rankstats.weighted_quantile):
    the threshold below which half the CHARACTERS (not half the docs) sit —
    distinct-value weight histogram, one window over the score domain,
    int64 cross-multiplied comparisons."""
    from kafka2iceberg_spark import rankstats as rk

    _utc(spark)
    d = _docs_scored(spark, sf_dir).select("source", "score_ppm", "n_chars")
    return rk.weighted_quantile(d, ["source"], "score_ppm", "n_chars")


def q_turn_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation turn-stream integrity audit (cep.turn_integrity)
    over a deterministically corrupted replay: turns with idx%11==7
    dropped (holes) and idx%13==3 re-emitted (replays). One conv_id
    exchange, one window pass, one aggregate."""
    from kafka2iceberg_spark import cep as cep_mod

    _utc(spark)
    tr = transcripts(spark, sf_dir)
    corrupted = tr.where(~(F.col("turn_idx") % 11 == 7)).unionAll(
        tr.where(F.col("turn_idx") % 13 == 3)
    )
    return cep_mod.turn_integrity(corrupted).orderBy("conv_id")


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer induction, 3 greedy merge rounds
    (textops.bpe_train): corpus collapses once to the word-frequency
    vocabulary; each round is a count-weighted pair agg over |vocab|, a
    1-row argmax collect, and a codegen'd fold merge. Oracle replays the
    rounds with bracket-delimited string replace."""
    _utc(spark)
    d = _read(spark, sf_dir, "documents")
    return tx.bpe_train(d, n_merges=3)


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by source (textops.bpe_encode_stats): train 3
    BPE merges, re-encode the per-(source, word) vocabulary with lazily
    chained fold merges, roll up subwords-per-word and per-char
    compression as exact ppm integers."""
    _utc(spark)
    d = _read(spark, sf_dir, "documents")
    return tx.bpe_encode_stats(d, n_merges=3)


def q_field_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upstream schema-drift report (ingest.field_drift): envelopes
    synthesized with a drifting payload — `tool` omitted when NULL
    (to_json drops null fields) and an undeclared `sign_time` appearing on
    idx%9==0 rows, the reference's addSignTime mid-run mutation — audited
    against the declared transcript spec. The oracle counts the drift
    conditions directly, never building JSON."""
    from kafka2iceberg_spark.ingest import field_drift

    _utc(spark)
    t = _tx(spark, sf_dir)
    env = t.select(
        F.to_json(
            F.struct(
                F.array(
                    F.struct(
                        F.col("conv_id"),
                        F.col("turn_idx").cast("string").alias("turn_idx"),
                        F.col("role"),
                        F.col("text"),
                        F.col("tool"),
                        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias(
                            "ts"
                        ),
                        F.when(
                            F.col("turn_idx") % 9 == 0, F.unix_millis("ts")
                        ).alias("sign_time"),
                    )
                ).alias("data"),
            )
        ).alias("value")
    )
    spec = TaskSpec(
        source_database="chat",
        source_table="transcripts",
        fields=[
            FieldSpec("conv_id", 1, "string", is_primary_key=True),
            FieldSpec("turn_idx", 2, "int", is_primary_key=True),
            FieldSpec("role", 3, "string"),
            FieldSpec("text", 4, "string"),
            FieldSpec("tool", 5, "string"),
            FieldSpec("ts", 6, "timestamp"),
        ],
    )
    return field_drift(env, spec).orderBy("field")


def q_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer gram matrix of the embedding corpus
    (similarity.gram_matrix): one mapInPandas pass reducing each Arrow
    batch to d-squared int64 partials -- raw vectors never shuffle; the
    PCA/whitening prep aggregation."""
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    return sim.gram_matrix(emb)


def q_pca_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-principal-component projection scores via integer power
    iteration (similarity.pca_power_scores): gram matrix in one pass,
    3 exact fixed-point matvec rounds driver-side, component inlined as
    a literal, one codegen'd fold per row."""
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    return sim.pca_power_scores(emb, iters=3)


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM behavioral segmentation over events (rankstats.rfm_segments):
    one per-user aggregate, dataset-max "now", three ntile windows over
    the user-domain relation with total-order tiebreaks."""
    from kafka2iceberg_spark import rankstats as rk

    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    return rk.rfm_segments(ev)


def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by PMI over adjacent token bigrams
    (textops.bigram_pmi_topk): nano-ln quantized counts, two
    vocabulary-sized count aggs, two hash joins, TakeOrdered top-k."""
    _utc(spark)
    d = _read(spark, sf_dir, "documents")
    return tx.bigram_pmi_topk(d, min_count=5, top_k=50)


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (dq.t_closeness): per (source, len_bucket) class,
    exact-ppm total-variation distance of the lang distribution vs the
    corpus — the skewness follow-up to k-anonymity/l-diversity. Two cell
    aggs + a broadcast domain cross; integer arithmetic throughout."""
    from kafka2iceberg_spark import dq as dqm

    _utc(spark)
    d = _read(spark, sf_dir, "documents").select(
        "source",
        (F.col("n_chars") / F.lit(100)).cast("long").alias("len_bucket"),
        "lang",
    )
    return dqm.t_closeness(d, ["source", "len_bucket"], "lang",
                           t_ppm=150_000)


def q_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization (privacy.pseudonymize): conv_id replaced by
    a stable salted-md5 surrogate, then grouped — surrogate stability
    means per-conversation structure (turn counts) survives
    de-identification intact. Pure codegen'd expressions, zero extra
    shuffle beyond the group-by."""
    from kafka2iceberg_spark import privacy as pv

    t = _tx(spark, sf_dir)
    p = pv.pseudonymize(t, ["conv_id"], salt="rel-2026-08")
    return (
        p.groupBy("conv_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_turns"))
        .withColumnRenamed("conv_id", "pconv")
    )


def q_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-gap sensitivity sweep (windows.gap_sensitivity): session
    counts/sizes for four candidate gaps from ONE ordered-lag pass — the
    hyperparameter-tuning companion to session_window (whose 4h gap this
    sweep brackets)."""
    t = _tx(spark, sf_dir)
    return win.gap_sensitivity(
        t, [HOUR_US, 2 * HOUR_US, SESSION_GAP_US, 8 * HOUR_US]
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over (source, lang, n_chars decile bucket)
    quasi-identifiers (dq.k_anonymity): one hash agg + tiny rollup; the
    post-redaction privacy gate."""
    from kafka2iceberg_spark import dq as dqm

    _utc(spark)
    d = _read(spark, sf_dir, "documents").select(
        "source",
        "lang",
        (F.col("n_chars") / F.lit(100)).cast("long").alias("len_bucket"),
    )
    return dqm.k_anonymity(d, ["source", "lang", "len_bucket"], k=5)


def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup impact report: docs, distinct fingerprints, dup
    rate in exact ppm — the per-domain summary a curation run publishes
    after exact dedup (composite over dedup.exact_dedup's fingerprint).
    One (source, fp) distinct + two tiny aggs, map-side combined."""
    _utc(spark)
    d = _read(spark, sf_dir, "documents")
    from kafka2iceberg_spark.textops import fingerprint

    fp = d.select("source", fingerprint(F.col("text")).alias("fp"))
    per = fp.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct(F.col("fp")).cast("long").alias("n_distinct"),
    )
    return per.select(
        "source",
        "n_docs",
        "n_distinct",
        F.expr("(n_docs - n_distinct) * 1000000 div n_docs")
        .cast("long")
        .alias("dup_ppm"),
    )


def q_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional next-role entropy per previous role over transcripts
    (timeseries.transition_entropy): how scripted each role's successor
    is — the dialogue-flow complement to transition_counts. One lag
    window on conv_id + two tiny aggs; nano-ln exact."""
    tx = _tx(spark, sf_dir)
    return ts.transition_entropy(
        tx, ["conv_id"], ["turn_idx"], "role"
    ).withColumnRenamed("prev_state", "prev_role")


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source word-3-gram novelty (textops.ngram_novelty): share of
    each source's distinct (doc, gram) incidences whose gram is corpus-
    unique — the gram-level templated-ness dashboard row. One (doc,
    gram) distinct + one count window on gram + tiny final agg."""
    _utc(spark)
    return tx.ngram_novelty(_read(spark, sf_dir, "documents"), n=3)


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH ANN path against brute-force ground truth
    (similarity.recall_at_k) — the index-quality eval every approximate
    deployment publishes. Composes the two existing deterministic ANN
    ops; the DuckDB oracle replays both (inlined plane literals) and
    joins them identically."""
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    q = emb.where(F.col("vec_id") < 8)
    approx = sim.lsh_topk(emb, q, k=5, dim=64)
    exact = sim.brute_topk(emb, q, k=5)
    return sim.recall_at_k(approx, exact)


def q_sq8_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantization quality per label (similarity.sq8_error):
    the flat 4× vector-memory cut every store applies before indexing,
    graded by exact integer reconstruction error. Two corpus passes, a
    64-row driver coordination collect, no joins."""
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    return sim.sq8_error(emb, dim=64)


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Poisson-bootstrap CI for mean order value
    (rankstats.poisson_bootstrap_ci, B=200): the one-pass,
    map-side-combined bootstrap — the only formulation that survives
    100 TB. Deterministic md5 micro-draws through a pinned Poisson(1)
    CDF ladder; the oracle replays every draw."""
    from kafka2iceberg_spark import rankstats as rs

    _utc(spark)
    o = _read(spark, sf_dir, "orders", spread=True).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return rs.poisson_bootstrap_ci(o, "cents", "o_orderkey", b=200)


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the k-anonymity quasi-identifier classes
    with lang as the sensitive attribute (dq.l_diversity): catches
    homogeneous classes that k-anonymity alone misses. Two map-side-
    combined hash aggs, no joins."""
    from kafka2iceberg_spark import dq as dqm

    _utc(spark)
    d = _read(spark, sf_dir, "documents").select(
        "source",
        (F.col("n_chars") / F.lit(100)).cast("long").alias("len_bucket"),
        "lang",
    )
    return dqm.l_diversity(d, ["source", "len_bucket"], "lang", l=3)


def q_classifier_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the Naive Bayes source
    classifier on its held-out fifth (rankstats.classifier_prf over
    textops.nb_train/nb_predict): the confusion-matrix rollup — one
    tiny pair agg + broadcast label joins, all-integer ppm metrics.

    The NB model (per-class priors + token-class counts) is trained
    once and COMMITTED to tables, then prediction reads the model back
    — the production shape when one model scores many batches, and it
    keeps this eval's plan O(predict) instead of re-deriving the model
    inside every downstream join (the r3 plan audit flagged the inlined
    composition at 166 exchanges)."""

    from kafka2iceberg_spark import rankstats as rs
    from kafka2iceberg_spark.sink import IcebergLite

    _utc(spark)
    d = _read(spark, sf_dir, "documents")
    model_cls, ctc = tx.nb_train(d.where(F.col("doc_id") % 5 != 0))
    work = _workdir("nb_model_")
    t_cls = IcebergLite(f"{work}/model_cls", pk=[], partition_field=None)
    t_ctc = IcebergLite(f"{work}/ctc", pk=[], partition_field=None)
    t_cls.commit_append(model_cls, "0")
    t_ctc.commit_append(ctc, "0")
    preds = tx.nb_predict(
        d.where(F.col("doc_id") % 5 == 0), t_cls.read(spark), t_ctc.read(spark)
    )
    return rs.classifier_prf(preds, "true_source", "pred_source")


def q_ann_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the LSH ANN ranking vs brute-force ground truth
    (similarity.ndcg_at_k): position-aware index quality — recall asks
    whether true neighbors appear, NDCG asks whether they appear early.
    Pinned integer discount weights, broadcast joins only."""
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    q = emb.where(F.col("vec_id") < 8)
    approx = sim.lsh_topk(emb, q, k=10, dim=64)
    exact = sim.brute_topk(emb, q, k=10)
    return sim.ndcg_at_k(approx, exact, k=10)


def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration over the near-dup-augmented corpus
    (dedup.minhash_calibration): estimated vs exact Jaccard for every
    LSH candidate pair, bucketed by true similarity — validates the
    N_PERMS/N_BANDS operating point before scale-out. Runs on the same
    deterministic 20% corpus slice as the other near-dup evals:
    calibration is a sampled eval by design (the estimator statistics
    are slice-invariant), and the exact-Jaccard side is quadratic in
    the candidate set.

    The LSH candidate stage is computed once and COMMITTED to a table;
    the calibration plan's three references to it (id restriction,
    exact side, final join) read the committed relation instead of
    re-running the full LSH pipeline each time (the r3 plan audit
    flagged the inlined composition at 274 exchanges)."""

    from kafka2iceberg_spark.sink import IcebergLite

    docs = _docs_aug_near(spark, sf_dir, subset=True)
    cand = dd.minhash_lsh_pairs(docs, threshold=0.0).select(
        "doc_a",
        "doc_b",
        F.round(F.col("est_jaccard") * 1e6).cast("long").alias("est_ppm"),
    )
    work = _workdir("minhash_cand_")
    t = IcebergLite(f"{work}/candidates", pk=[], partition_field=None)
    t.commit_append(cand, "0")
    return dd.minhash_calibration(docs, candidates=t.read(spark))


def q_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-closed sessions with a hard 2-hour duration cap
    (windows.capped_sessions, gap 30 min): the bounded-state W4 variant —
    never-idle conversations split on cap boundaries so no session (and
    no streaming state object) grows without bound. Two reused per-conv
    windows + one hash agg, closed-form, no Python."""
    tx = _tx(spark, sf_dir)
    return win.capped_sessions(tx, gap_seconds=1800, cap_seconds=7200)


def q_temporal_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time temporal join view (scd.TemporalEnrich) — Flink's
    ``FOR SYSTEM_TIME AS OF`` over exactly-once tables: purchases
    enriched with the user-state dimension version valid at each
    purchase's EVENT time. The dim change log (one surviving change per
    (user, ts); tombstones on 'error') arrives in three time-ordered
    batches with explicit watermarks; the purchases arrive OUT OF ORDER
    (event_id mod 3) — facts ahead of the dim watermark are held in the
    fact log and released exactly once when a later watermark passes
    them, so the final table is independent of arrival interleaving.
    The DuckDB oracle is the from-scratch SCD2 + interval join over the
    full logs — the gate proves the held-back incremental path lands
    exactly the batch answer."""

    from kafka2iceberg_spark.scd import TemporalEnrich
    from kafka2iceberg_spark.sink import IcebergLite
    from kafka2iceberg_spark.transactions import CatalogLite

    _utc(spark)
    ev = _read(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    one = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    dim = (
        ev.select(
            "user_id", "ts", "event_id", "event_type",
            (F.col("event_type") == "error").alias("is_del"),
        )
        .withColumn("_rn", F.row_number().over(one))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    facts = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("fact_id"), "user_id", "ts"
    )
    t1 = 1_704_931_200_000_000  # 2024-01-11
    t2 = 1_705_795_200_000_000  # 2024-01-21
    t3 = 1_707_955_200_000_000  # 2024-02-15 (past everything)
    work = _workdir("temporal_enrich_")
    cat = CatalogLite(f"{work}/cat")
    cat.register(
        "facts", IcebergLite(f"{work}/facts", pk=[], partition_field=None)
    )
    cat.register(
        "out", IcebergLite(f"{work}/out", pk=[], partition_field=None)
    )
    cat.register(
        "meta", IcebergLite(f"{work}/meta", pk=["k"], partition_field=None)
    )
    hist = IcebergLite(
        f"{work}/hist", pk=["user_id", "valid_from_us"], partition_field=None
    )
    te = TemporalEnrich(
        cat, hist, key=["user_id"], tracked=["event_type"],
        dim_order=["ts", "event_id"], dim_delete="is_del",
    )
    us = F.unix_micros(F.col("ts"))
    cuts = [t1, t2, t3]
    lo = None
    for b, hi in enumerate(cuts):
        dim_b = dim.where(
            (us <= F.lit(hi)) & ((us > F.lit(lo)) if lo else F.lit(True))
        )
        te.apply_batch(
            dim_b,
            facts.where(F.col("fact_id") % 3 == b),
            str(b),
            wm_us=hi,
        )
        lo = hi
    return te.read(spark).select(
        "fact_id", "user_id", "ts_us",
        F.col("dim_event_type").alias("state_at_purchase"),
    )


def q_forget_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten (privacy.forget_entity): three users' rows
    erased from an events table via replay-guarded CoW point deletes
    (manifest-stats planning — disjoint files carried by reference), then
    the per-event-type survivor counts. The DuckDB oracle simply excludes
    the erased users — the gate proves the file-surgery delete path drops
    exactly the requested entities and nothing else."""

    from kafka2iceberg_spark.privacy import forget_entity
    from kafka2iceberg_spark.sink import IcebergLite

    _utc(spark)
    ev = _read(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    t = IcebergLite(
        _workdir("forget_") + "/t",
        pk=[],
        partition_field=None,
    )
    t.commit_append(ev, "0")
    for u in (7, 21, 42):
        forget_entity(spark, {"events": t}, "user_id", u, f"req-{u}")
    return (
        t.read(spark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_snapshot_row_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot diff (metadata_tables.snapshot_row_diff): the
    CDC-replication auditor — which user states were added / removed /
    changed between two committed versions. Version 1 = each user's
    first January-1..15 event; version 2 upserts each user's last
    Jan-16+ event and CDC-deletes users whose last event is an 'error'.
    One full-outer PK hash join of two time-travel reads, non-PK attrs
    compared as one canonical struct (NULL-safe). The DuckDB oracle
    replays both snapshot definitions and the set algebra directly."""

    from kafka2iceberg_spark import metadata_tables as mt
    from kafka2iceberg_spark.sink import IcebergLite

    _utc(spark)
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    t_cut = F.lit(1_705_363_200_000_000)  # 2024-01-16
    us = F.unix_micros(F.col("ts"))
    first_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    b0 = (
        ev.where(us < t_cut)
        .withColumn("_rn", F.row_number().over(first_w))
        .where(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.lit(False).alias("is_cdc_delete"),
        )
    )
    last_w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    b1 = (
        ev.where(us >= t_cut)
        .withColumn("_rn", F.row_number().over(last_w))
        .where(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            (F.col("event_type") == "error").alias("is_cdc_delete"),
        )
    )
    work = _workdir("rowdiff_")
    t = IcebergLite(f"{work}/t", pk=["user_id"], partition_field=None)
    t.commit_upsert(b0, "0")
    v0 = t.current_version()
    t.commit_upsert(b1, "1")
    v1 = t.current_version()
    return mt.snapshot_row_diff(t, spark, v0, v1)


def q_rollup_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate ladder (timeseries.RollupLadder): hour→day
    rollup tiers maintained across three OUT-OF-ORDER arrival slices
    (event_id mod 3) with day-boundary watermarks; late rows re-fold
    their dirty day buckets (invalidation semantics), so the committed
    day tier is bit-identical to the from-scratch daily aggregate the
    DuckDB oracle computes — regardless of batching or arrival order.
    Values ride as exact micro-unit BIGINTs."""

    from kafka2iceberg_spark.sink import IcebergLite
    from kafka2iceberg_spark.timeseries import RollupLadder
    from kafka2iceberg_spark.transactions import CatalogLite

    _utc(spark)
    ev = _read(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.round(F.col("value") * 1e6, 0).cast("long").alias("v"),
        "event_id",
    )
    work = _workdir("rollup_")
    cat = CatalogLite(f"{work}/cat")
    for name in ("hour", "day"):
        cat.register(
            name,
            IcebergLite(
                f"{work}/{name}", pk=["bucket_us"], partition_field=None
            ),
        )
    cat.register(
        "rollup_meta",
        IcebergLite(f"{work}/meta", pk=["tier"], partition_field=None),
    )
    rl = RollupLadder(cat, [("hour", HOUR_US), ("day", DAY_US)])
    cuts = [
        1_704_931_200_000_000,  # 2024-01-11
        1_705_795_200_000_000,  # 2024-01-21
        1_706_745_600_000_000,  # 2024-02-01 (past everything)
    ]
    for b, hi in enumerate(cuts):
        rl.apply_batch(
            ev.where(F.col("event_id") % 3 == b).drop("event_id"),
            str(b),
            wm_us=hi,
        )
    return rl.read(spark, "day").select("bucket_us", "n", "s")


def q_quota_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic admission control (windows.quota_admit): per
    (conv_id, 1-day tumbling window) the 4 earliest turns by
    (event time, turn_idx) are admitted and the rest rejected — the
    per-conversation rate cap an ingestion pipeline applies before
    expensive downstream work. Event-time order, so the verdict set is
    replay/reorder-stable. One shuffle on (conv_id, window) + one rank
    window."""
    df = _tx(spark, sf_dir)
    return win.quota_admit(df, "conv_id", "ts", "1 day", 4, "turn_idx")


def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (weekly season, dyadic smoothing) over
    daily revenue per event type (timeseries.holt_winters): the
    seasonal member of the forecasting trio (ewma → holt → HW). One
    collect_list fold per key, exact BIGINT recurrence; the oracle
    replays it with a seasonal-list recursive CTE."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    r = ts.resample(ev, "ts", DAY_US, ["event_type"], value_col="value")
    return ts.holt_winters(r, ["event_type"], "v_cents", period=7)


def q_role_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest same-role streak per conversation (cep.longest_streaks,
    gaps-and-islands): agent-loop / monologue detection. One per-(conv,
    role) window + one hash agg + one per-conv top-1 window."""
    from kafka2iceberg_spark import cep

    tx = _tx(spark, sf_dir)
    return cep.longest_streaks(tx)


def q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 distinctive terms per source by Dirichlet-prior log-odds
    z-score (textops.distinctive_terms, Monroe et al. 2008): the
    comparative-corpus statistic TF-IDF approximates badly. Vocabulary-
    sized aggs + one word-keyed hash join; nano-ln exact deltas."""
    _utc(spark)
    return tx.distinctive_terms(_read(spark, sf_dir, "documents"), top_k=10)


def q_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over blob payloads (multimodal.sample_frames):
    every 4th 64-byte frame sliced and summarized inside mapInPandas —
    the multimodal decode dataflow with a deterministic stand-in codec;
    the oracle replays the byte slicing in SQL."""
    blobs = mm.as_blobs(_read(spark, sf_dir, "documents", spread=True))
    return mm.sample_frames(blobs, frame_bytes=64, every_n=4)


def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week-adjusted anomalies in daily revenue per event type
    (timeseries.seasonal_anomalies): z-scores of residuals against each
    type's weekly rhythm — raw z-scores flag every weekend; this flags
    only rhythm breaks. Two tiny broadcast moment joins, no window."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    r = ts.resample(ev, "ts", DAY_US, ["event_type"], value_col="value")
    return ts.seasonal_anomalies(r, ["event_type"], "v_cents", z_threshold=1.5)


def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting feature table over daily revenue per event type
    (timeseries.lag_features): lag-1/lag-7, trailing 7-day integer
    moving average, next-day label — one per-key ordered window, the
    audited feature/label alignment step."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    r = ts.resample(ev, "ts", DAY_US, ["event_type"], value_col="value")
    return ts.lag_features(r, ["event_type"], "v_cents")


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival burstiness per event type (timeseries.burstiness): Fano
    factor of hourly counts over the densified grid — Poisson ≈ 1,
    bursty >> 1. Gap-filled so silent hours count as real zeros."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    r = ts.resample(ev, "ts", HOUR_US, ["event_type"])
    return ts.burstiness(r, HOUR_US, ["event_type"])


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over the augmented corpus
    (dedup.simhash_pairs, Manku et al. WWW'07): 4-band pigeonhole join,
    exact recall for Hamming <= 3, one xor+bit_count per candidate —
    the deterministic-recall complement of the MinHash band path."""
    return dd.simhash_pairs(
        _docs_aug_near(spark, sf_dir, subset=False), max_hamming=3
    )


def q_tool_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool→next-tool transition matrix within conversations
    (timeseries.transition_counts over the tool-turn subsequence):
    which tool follows which — the agent-workflow handoff map. One lag
    window on conv_id over the filtered tool turns + a |tools|² agg."""
    tx = _tx(spark, sf_dir).where(F.col("tool").isNotNull())
    return ts.transition_counts(
        tx, user_col="conv_id", order_cols=("turn_idx",), type_col="tool"
    ).withColumnRenamed("prev_type", "prev_tool")


def q_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-similarity distribution profile over label-blocked
    embedding pairs (composite over dedup.embedding_neardup_pairs at
    threshold -1): per label, pair counts per 0.1 cosine bucket — the
    separation histogram you read BEFORE choosing an ANN/near-dup
    threshold. Blocked pairwise join, one tiny bucket agg."""
    emb = _read(spark, sf_dir, "embeddings", spread=True)
    pairs = dd.embedding_neardup_pairs(emb, threshold=-1.0)
    lab = F.broadcast(emb.select(F.col("vec_id").alias("vec_a"), "label"))
    return (
        pairs.join(lab, "vec_a")
        .groupBy(
            "label",
            F.floor(F.col("cosine") * 10).cast("long").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def q_ooo_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile per source partition
    (windows.disorder_profile): replay arrival order (event time plus a
    deterministic md5 delivery jitter of up to 2h — the oracle reproduces
    it) and measure each row's lateness against the running max event
    time, i.e. the exact quantity a watermark tracker maintains. Emits
    per Kafka-partition ooo counts, worst lateness, and would-drop counts
    at candidate watermark delays — the table you read to CHOOSE
    ``withWatermark`` instead of guessing it. One window + one agg, both
    hash-partitioned on the bounded partition id."""
    ev = _read(spark, sf_dir, "events")
    eu = F.unix_micros(F.col("ts").cast("timestamp"))  # NTZ parquet, UTC pinned
    jitter = (
        tx.hash32(F.col("event_id").cast("string")) % F.lit(7200)
    ) * F.lit(1_000_000)
    df = ev.select(
        (F.col("user_id") % 16).cast("long").alias("kafka_partition"),
        F.col("event_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        (eu + jitter).alias("_arr_us"),
    ).withColumn(
        "arrival_seq",
        F.row_number().over(
            Window.partitionBy("kafka_partition").orderBy(
                "_arr_us", "event_id"
            )
        ),
    )
    return win.disorder_profile(df)


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key skew report over conv_id (dq.key_skew): the measurement
    half of X1 — top-10 heaviest conversations with share-of-rows and
    multiple-of-mean-load in exact ppm, read before sizing salts or
    trusting AQE skew-join. Partial-agg groupBy + TakeOrdered top-k +
    two broadcast scalars; never a global sort."""
    from kafka2iceberg_spark import dq

    return dq.key_skew(_tx(spark, sf_dir), "conv_id", top_k=10)


def q_turn_echoes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agent echo/loop detector (cep.echo_stats): per conversation, count
    turns where a speaker's NEXT turn repeats its own previous action —
    action = the text's event_type prefix, sequenced within (conv, role)
    so the interleaved other speakers don't break a loop. The
    content-aware sibling of role_streaks: a degenerate agent loop is
    exactly this signature, and a transcript-quality gate drops on it.
    One rank window + gaps-and-islands, every stage on conv_id."""
    t = _tx(spark, sf_dir).withColumn(
        "signal", F.substring_index("text", ":", 1)
    )
    seq = F.row_number().over(
        Window.partitionBy("conv_id", "role").orderBy("turn_idx")
    )
    return cep.echo_stats(t.withColumn("role_seq", seq), order_col="role_seq")


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test leakage audit (dedup.split_leakage): exact-dup
    fingerprints whose copies land in different dataset_split buckets —
    eval rows silently present in train. One fingerprint groupBy + one
    scalar agg + a 4-row unpivot; the exact_dedup silhouette."""
    d = _read(spark, sf_dir, "documents", spread=True)
    return dd.split_leakage(d)


def q_conv_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window tail truncation report (packing.truncate_tail,
    budget=32 tokens): per conversation, the longest whole-turn suffix
    that fits the context budget — newest-context-wins, never split a
    turn, the newest turn kept even oversized. The chat-training
    pre-packing step; waste_tokens sizes the downstream bins. One
    reverse-cumsum window + one agg, both on conv_id."""
    from kafka2iceberg_spark import packing as pk

    t = _tx(spark, sf_dir).withColumn("n_tok", tx.n_tokens(F.col("text")))
    return pk.truncate_tail(t, budget=32)


def q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit two-path skew join (windows.skew_join): transcripts
    (fact, skewed on conv_id) joined to a derived per-conversation
    dimension — hot conversations stream map-side against a broadcast of
    their dim rows, cold ones take a shuffle-hash join, union of the
    two. Result is row-identical to the plain join (the oracle IS the
    plain join), so the gate proves the rewrite is semantics-free.
    Post-join rollup: turns per (first_event_type, role)."""
    t = _tx(spark, sf_dir)
    dim = (
        t.where(F.col("turn_idx") == 0)
        .select(
            "conv_id",
            F.substring_index("text", ":", 1).alias("first_event_type"),
        )
    )
    # hot = 4x the mean key load (dq.key_skew's x_mean reading), so the
    # hot set stays "the few mega-conversations" at every sf instead of
    # swallowing the whole table as row counts grow
    mean_load = (
        t.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.avg("n"))
        .first()[0]
    )
    joined = win.skew_join(t, dim, "conv_id", hot_threshold=int(mean_load * 4))
    return joined.groupBy("first_event_type", "role").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns")
    )


def q_struct_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-structure dedup (dedup.structure_groups): group
    conversations opening with the identical 3-turn (role:event_type)
    sequence — templated/scripted flows that text dedup can't see
    because every turn's text differs. One conv_id fold + one signature
    agg; no joins."""
    t = _tx(spark, sf_dir).withColumn(
        "signal",
        F.concat_ws(":", "role", F.substring_index("text", ":", 1)),
    )
    return dd.structure_groups(t, prefix_len=3, min_group=2)


def q_role_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long UNPIVOT over per-conversation role counts: the melt
    relational operator (Spark ``DataFrame.unpivot`` — TungstenExpand,
    no shuffle beyond the count agg), completing the reshape pair with
    role_day_pivot. Output (conv_id, metric, n) sorted by nothing —
    the gate sorts."""
    t = _tx(spark, sf_dir)
    wide = t.groupBy("conv_id").agg(
        F.sum((F.col("role") == "user").cast("long"))
        .cast("long")
        .alias("n_user"),
        F.sum((F.col("role") == "assistant").cast("long"))
        .cast("long")
        .alias("n_assistant"),
        F.sum((F.col("role") == "tool").cast("long"))
        .cast("long")
        .alias("n_tool"),
    )
    return wide.unpivot(
        ids=["conv_id"],
        values=["n_user", "n_assistant", "n_tool"],
        variableColumnName="metric",
        valueColumnName="n",
    )


# ------------------------------------------------------------------ contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: gap-closed session windows over transcripts at sf0.001."""
    return q_session(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- driver gate window (first 50): 3 always-on canary +
        # 47 queries with no prior driver-issued CORRECTNESS row in
        # r01-r04 (rotation 2 of 3: TPCH-analytic family, stats/drift
        # family, layout/infra, then oldest-first registry order)
        "envelope_roundtrip": q_envelope_roundtrip,
        "dedup_upsert": q_dedup_upsert,
        "session_window": q_session,
        "region_supplier_revenue": q_region_supplier_revenue,
        "brand_volume": q_brand_volume,
        "cumulative_spend": q_cumulative_spend,
        "volume_shipping": q_volume_shipping,
        "product_profit": q_product_profit,
        "order_count_distribution": q_order_count_distribution,
        "promo_revenue_share": q_promo_revenue_share,
        "forecast_revenue": q_forecast_revenue,
        "returned_customers": q_returned_customers,
        "small_qty_revenue": q_small_qty_revenue,
        "large_orders": q_large_orders,
        "disjunctive_revenue": q_disjunctive_revenue,
        "idle_rich_customers": q_idle_rich_customers,
        "late_shipment_priority": q_late_shipment_priority,
        "min_cost_supplier": q_min_cost_supplier,
        "important_parts": q_important_parts,
        "supplier_part_counts": q_supplier_part_counts,
        "promotable_suppliers": q_promotable_suppliers,
        "waiting_suppliers": q_waiting_suppliers,
        "ks_drift": q_ks_drift,
        "psi_drift": q_psi_drift,
        "cuped_readout": q_cuped_readout,
        "ab_test_z": q_ab_test,
        "mad_outliers": q_mad_outliers,
        "bootstrap_ci": q_bootstrap_ci,
        "rank_correlation": q_rank_correlation,
        "zorder_layout": q_zorder_layout,
        "bloom_prune": q_bloom_prune,
        "table_profile": q_table_profile,
        "dq_constraints": q_dq_constraints,
        "stream_sample": q_stream_sample,
        "role_day_pivot": q_role_day_pivot,
        "mix_allocation": q_mix_allocation,
        "tool_pmi": q_tool_pmi,
        "mixture_sample": q_mixture_sample,
        "anomaly_zscore": q_anomaly_zscore,
        "winsorize_values": q_winsorize,
        "readability": q_readability,
        "conv_size_gini": q_conv_size_gini,
        "lang_agreement": q_lang_agreement,
        "conv_survival": q_conv_survival,
        "price_regression": q_price_regression,
        "conversion_lag": q_conversion_lag,
        "sla_breaches": q_sla_breaches,
        "json_props_rollup": q_json_props_rollup,
        "ts_resample_fill": q_ts_resample_fill,
        "cohort_retention": q_cohort_retention,
        # --- below the 50-row driver gate window ---
        "temporal_enrich": q_temporal_enrich,
        "rollup_ladder": q_rollup_ladder,
        "join_view": q_join_view,
        "snapshot_row_diff": q_snapshot_row_diff,
        "forget_entity": q_forget_entity,
        "scd2_history": q_scd2_history,
        "scd2_pit": q_scd2_pit,
        "capped_sessions": q_capped_sessions,
        "quota_admit": q_quota_admit,
        "neardup_index": q_neardup_index,
        "cluster_canonical": q_cluster_canonical,
        "dp_release": q_dp_release,
        "dup_span_remove": q_dup_span_remove,
        "split_leakage": q_split_leakage,
        "struct_dups": q_struct_dups,
        "minhash_calibration": q_minhash_calibration,
        "ann_index_topk": q_ann_index,
        "ann_pq_topk": q_ann_pq_topk,
        "hard_negatives": q_hard_negatives,
        "ann_recall": q_ann_recall,
        "ann_ndcg": q_ann_ndcg,
        "sq8_error": q_sq8_error,
        "kmeans_clusters": q_kmeans,
        "pagerank_topk": q_pagerank,
        "kcore": q_kcore,
        "sssp": q_sssp,
        "lpa_communities": q_lpa_communities,
        "bfs_hops": q_bfs_hops,
        "triangle_counts": q_triangles,
        "inverted_postings": q_inverted_postings,
        "bm25_topk": q_bm25_topk,
        "hybrid_search": q_hybrid_search,
        "bpe_train": q_bpe_train,
        "classifier_prf": q_classifier_prf,
        "k_anonymity": q_k_anonymity,
        "l_diversity": q_l_diversity,
        "t_closeness": q_t_closeness,
        "pseudonymize": q_pseudonymize,
        "market_share": q_market_share,
        "top_supplier_per_nation": q_top_supplier_per_nation,
        "asof_attribution": q_asof_attribution,
        "range_join_counts": q_range_join_counts,
        "window_funnel": q_window_funnel,
        "skew_join": q_skew_join,
        "cube_role_tool": q_cube_role_tool,
        "grouping_sets": q_grouping_sets,
        "holt_winters": q_holt_winters,
        "tumbling_window": q_tumbling,
        "tumbling_window_sql": q_tumbling_sql,
        "sliding_window": q_sliding,
        "session_window_two_phase": q_session_two_phase,
        "gap_sweep": q_gap_sweep,
        "concurrency_curve": q_concurrency,
        "session_window_sql": q_session_sql,
        "paired_turns": q_paired,
        "conv_document": q_conv_document,
        "corpus_clean_funnel": q_corpus_clean,
        "conversation_stats": q_conv_stats,
        "dedup_upsert_mor": q_dedup_upsert_mor,
        "salted_conv_counts": q_salted_counts,
        "cep_pattern": q_cep_pattern,
        "cep_match_extract": q_cep_match_extract,
        "cep_sequence_counts": q_cep_sequence_counts,
        "tool_precedence": q_tool_precedence,
        "late_data_flags": q_late_data,
        "topk_turns": q_topk_turns,
        "role_rollup": q_role_rollup,
        "enriched_turns": q_enriched_turns,
        "streaming_ingest_e2e": q_streaming_e2e,
        "pk_mismatch": q_pk_mismatch,
        "update_diffs": q_update_diffs,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_fingerprint,
        "pii_redact": q_pii_redact,
        "doc_chunks": q_doc_chunks,
        "top_rare_terms": q_top_rare_terms,
        "missing_replies": q_missing_replies,
        "gopher_rules": q_gopher_rules,
        "repetition_stats": q_repetition,
        "ivf_assign": q_ivf_assign,
        "dataset_split": q_dataset_split,
        "pack_sequences": q_pack_sequences,
        "pack_bin_stats": q_pack_bin_stats,
        "vocab_topk": q_vocab_topk,
        "hll_distinct": q_hll_distinct,
        "kmv_distinct": q_kmv_distinct,
        "countmin_hitters": q_countmin_hitters,
        "heavy_hitters_exact": q_heavy_hitters_exact,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_jaccard,
        "dedup_prefix_join": q_dedup_prefix,
        "dedup_containment": q_dedup_containment,
        "dedup_editdist": q_dedup_editdist,
        "dedup_minhash_lsh": q_dedup_minhash,
        "dedup_clusters": q_dedup_clusters,
        "contamination": q_contamination,
        "stratified_sample": q_stratified_sample,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding": q_dedup_embedding,
        "ann_brute_topk": q_ann_brute,
        "ann_lsh_topk": q_ann_lsh,
        "ann_ivf_topk": q_ann_ivf_topk,
        "blob_meta": q_blob_meta,
        "blob_features": q_blob_features,
        "latency_percentiles": q_latency_percentiles,
        "value_histogram": q_value_histogram,
        "conv_funnel": q_conv_funnel,
        "fulfilled_customers": q_fulfilled_customers,
        "customers_without_orders": q_customers_without_orders,
        "priority_share": q_priority_share,
        "pricing_summary": q_pricing_summary,
        "revenue_topk": q_revenue_topk,
        "nation_revenue": q_nation_revenue,
        "hist_quantiles": q_hist_quantiles,
        "bpe_pairs": q_bpe_pairs,
        "rolling_stats": q_rolling_stats,
        "bigram_lm_scores": q_bigram_lm_scores,
        "sparse_cosine_pairs": q_sparse_cosine,
        "cusum_drift": q_cusum_drift,
        "trend_lines": q_trend_lines,
        "transition_counts": q_transition_counts,
        "hits_scores": q_hits_scores,
        "ewma_smooth": q_ewma_smooth,
        "holt_forecast": q_holt_forecast,
        "ohlc_bars": q_ohlc_bars,
        "twap_daily": q_twap_daily,
        "running_balance": q_running_balance,
        "weighted_sample": q_weighted_sample,
        "pareto_parts": q_pareto_parts,
        "butterfly_pairs": q_butterflies,
        "dup_spans": q_dup_spans,
        "semdedup_flags": q_semdedup,
        "debounce_events": q_debounce,
        "source_entropy": q_source_entropy,
        "assoc_rules": q_assoc_rules,
        "autocorr_daily": q_autocorr,
        "dow_profile": q_dow_profile,
        "kmv_set_ops": q_kmv_set_ops,
        "adamic_adar": q_adamic_adar,
        "zipf_fit": q_zipf_fit,
        "vocab_overlap": q_vocab_overlap,
        "ams_f2": q_ams_f2,
        "source_divergence": q_source_divergence,
        "attribution_linear": q_attribution_linear,
        "cross_lm": q_cross_lm,
        "nb_classify": q_nb_classify,
        "quality_auc": q_quality_auc,
        "quality_calibration": q_quality_calibration,
        "len_quality_tau": q_len_quality_tau,
        "centroid_outliers": q_centroid_outliers,
        "quantile_normalize": q_quantile_normalize,
        "lang_source_chi2": q_lang_source_chi2,
        "interleaved_shards": q_interleaved_shards,
        "weighted_median_quality": q_weighted_median_quality,
        "turn_integrity": q_turn_integrity,
        "bpe_fertility": q_bpe_fertility,
        "field_drift": q_field_drift,
        "gram_matrix": q_gram_matrix,
        "pca_scores": q_pca_scores,
        "rfm_segments": q_rfm_segments,
        "bigram_pmi": q_bigram_pmi,
        "dedup_rate_by_source": q_dedup_rate_by_source,
        "transition_entropy": q_transition_entropy,
        "ngram_novelty": q_ngram_novelty,
        "role_streaks": q_role_streaks,
        "distinctive_terms": q_distinctive_terms,
        "frame_samples": q_frame_samples,
        "seasonal_anomaly": q_seasonal_anomaly,
        "lag_features": q_lag_features,
        "burstiness": q_burstiness,
        "simhash_pairs": q_simhash_pairs,
        "tool_transitions": q_tool_transitions,
        "distance_histogram": q_distance_histogram,
        "ooo_profile": q_ooo_profile,
        "key_skew": q_key_skew,
        "turn_echoes": q_turn_echoes,
        "role_unpivot": q_role_unpivot,
        "conv_truncation": q_conv_truncation,
    }


# ---------------------------------------------------------------- oracle SQL

_TX = ORACLE_TRANSCRIPTS_CTE

# Morton interleave of two 16-bit lattice coords x, y (bit i of x lands at
# 2i, bit i of y at 2i+1) — the oracle twin of zorder.zvalue's unrolled
# shift/or loop, generated rather than hand-typed.
_MORTON_SQL = " | ".join(
    f"(((x >> {b}) & 1) << {2 * b}) | (((y >> {b}) & 1) << {2 * b + 1})"
    for b in range(16)
)

_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)

_PERM_VALUES = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(dd.MINHASH_PERMS)
)


def _km_assign(tag: str, cent: str) -> str:
    """One Lloyd assignment pass: integer L2² vs every centroid, argmin
    with smaller-cluster tie-break (mirrors similarity.kmeans_lloyd)."""
    return f"""
s{tag} AS (
  SELECT d.vec_id, d.q, c.c,
         CAST(list_sum(list_transform(range(1, 65),
           i -> (d.q[i] - c.cq[i]) * (d.q[i] - c.cq[i]))) AS BIGINT) AS dist
  FROM d, {cent} c
),
a{tag} AS (
  SELECT vec_id, q, c, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
    FROM s{tag}) WHERE rn = 1
)"""


def _km_update(tag: str, assign: str, prev: str) -> str:
    """One Lloyd centroid update: per-dim truncated mean; empty clusters
    keep the previous centroid (LEFT JOIN + coalesce)."""
    return f"""
p{tag} AS (
  SELECT c, i, SUM(q[CAST(i AS INT)]) AS s, COUNT(*) AS cnt
  FROM (SELECT c, unnest(range(1, 65)) AS i, q FROM {assign})
  GROUP BY c, i
),
n{tag} AS (
  SELECT c, list(CAST(s // cnt AS BIGINT) ORDER BY i) AS cq
  FROM p{tag} GROUP BY c
),
c{tag} AS (
  SELECT p.c, coalesce(n.cq, p.cq) AS cq
  FROM {prev} p LEFT JOIN n{tag} n ON n.c = p.c
)"""

# The 8 tables × 4 planes × 64 dims of deterministic LSH hyperplanes, inlined
from kafka2iceberg_spark.rankstats import POISSON1_CDF_MICRO

from kafka2iceberg_spark.similarity import NDCG_W_MICRO

# NDCG discount/ideal CASE ladders shared verbatim with
# similarity.ndcg_at_k (same pinned micro weights).
_NDCG_W_CASE = (
    "CASE l.rank "
    + " ".join(f"WHEN {i + 1} THEN {w}" for i, w in enumerate(NDCG_W_MICRO))
    + " ELSE 0 END"
)
_NDCG_CUM_CASE = (
    "CASE least(count(*), 10) "
    + " ".join(
        f"WHEN {i + 1} THEN {sum(NDCG_W_MICRO[: i + 1])}"
        for i in range(len(NDCG_W_MICRO))
    )
    + " END"
)

# Poisson(1) inverse-CDF CASE ladder shared verbatim with
# rankstats.poisson_bootstrap_ci (same pinned micro thresholds).
_POIS_CASE = (
    "CASE "
    + " ".join(f"WHEN u < {c} THEN {k}" for k, c in enumerate(POISSON1_CDF_MICRO))
    + f" ELSE {len(POISSON1_CDF_MICRO)} END"
)

# as SQL literals exactly like _PERM_VALUES — Python float repr round-trips
# to the identical double on DuckDB's parser, so both engines project onto
# bit-identical planes.
_LSH_PLANE_VALUES = ", ".join(
    f"({t}, {p}, {i + 1}, {v!r})"
    for t in range(8)
    for p in range(4)
    for i, v in enumerate(sim._hyperplane(t, p, 64))
)

_AUG_EXACT = """
aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
""".strip()


def _aug_near(subset: bool) -> str:
    base = (
        "SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0"
        if subset
        else "SELECT doc_id, text FROM documents"
    )
    return f"""
aug AS (
  {base}
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, substr(text, 8) AS text
  FROM documents WHERE doc_id % 10 = 0
)
""".strip()


_SHINGLES = f"""
normd AS (SELECT doc_id, {_NORM} AS n FROM aug),
pos AS (SELECT doc_id, n, unnest(range(1, greatest(length(n) - 2, 0) + 1)) AS i FROM normd),
sh AS (SELECT DISTINCT doc_id, substr(n, CAST(i AS INT), 3) AS g FROM pos)
""".strip()

# word-3-gram shingles (space-joined) — the prefix-join unit
_WORD_SHINGLES = f"""
normd AS (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM aug),
pos AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i
        FROM normd WHERE len(t) >= 3),
sh AS (SELECT DISTINCT doc_id,
              concat_ws(' ', t[CAST(i AS INT)], t[CAST(i AS INT) + 1],
                        t[CAST(i AS INT) + 2]) AS g
       FROM pos WHERE t[CAST(i AS INT)] <> '')
""".strip()

_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in tx.STOPWORDS)

# documents + exact-ppm quality score + lang=='en' label — the shared input
# CTE of the classifier-eval trio (quality_auc / quality_calibration /
# len_quality_tau); the score expression mirrors textops.quality_ppm
# bit-for-bit (same integer arithmetic as the text_quality oracle).
_QPPM = f"""
q AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(800 * least(length(text), 500)
           + CASE WHEN k > 0 THEN (sw * 300000) // k ELSE 0 END
           + CASE WHEN length(text) > 0
                  THEN (letters * 300000) // length(text) ELSE 0 END
           AS BIGINT) AS score_ppm,
         (lang = 'en') AS is_en
  FROM (
    SELECT source, doc_id, n_chars, lang, text,
           CASE WHEN n = '' THEN 0 ELSE len(string_split(n, ' ')) END AS k,
           CASE WHEN n = '' THEN 0
                ELSE len(list_filter(string_split(n, ' '),
                         t -> t IN ({_STOPWORDS_SQL}))) END AS sw,
           length(text)
             - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS letters
    FROM (SELECT source, doc_id, n_chars, lang, text, {_NORM} AS n
          FROM documents)
  )
)
""".strip()


def _bpe_sql(n_rounds: int = 3) -> str:
    """Generated k-round BPE replay (the _km_assign pattern): each round
    recomputes weighted pair counts from a bracket-delimited symbol string,
    picks the (count desc, pair asc) argmax, and applies the merge with a
    non-overlapping left-to-right replace() — per-symbol brackets share no
    boundary characters, so consecutive matches are never consumed and the
    scan equals textops.bpe_train's greedy fold."""
    rounds = []
    prev = "v0"
    for r in range(1, n_rounds + 1):
        rounds.append(f"""
sy{r} AS (
  SELECT cnt, string_split(substr(s, 2, length(s) - 2), '][') AS syms
  FROM {prev}
),
p{r} AS (
  SELECT syms[CAST(i AS INT)] AS a, syms[CAST(i AS INT) + 1] AS b,
         CAST(sum(cnt) AS BIGINT) AS c
  FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM sy{r})
  GROUP BY 1, 2
),
b{r} AS (SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1),
v{r} AS (
  SELECT w, cnt,
         replace(s, '[' || b.a || '][' || b.b || ']',
                 '[' || b.a || b.b || ']') AS s
  FROM {prev}, b{r} b
)""".strip())
        prev = f"v{r}"
    union = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, a AS sym_a, b AS sym_b,"
        f" a || b AS merged, c AS pair_count FROM b{r}"
        for r in range(1, n_rounds + 1)
    )
    body = ",\n".join(rounds)
    return f"""
WITH words AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
  FROM documents
),
v0 AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt,
         regexp_replace(w, '(.)', '[\\1]', 'g') AS s
  FROM words WHERE length(w) >= 2 GROUP BY w
),
{body}
{union}
ORDER BY round
"""


def _bpe_fertility_sql(n_rounds: int = 3) -> str:
    """Fertility replay: train rounds exactly as _bpe_sql, then re-encode
    the per-(source, word) vocabulary with the same replace() scans and
    roll up subwords-per-word by source."""
    base = _bpe_sql(n_rounds)
    # reuse everything up to the final union: rebuild with the same round
    # CTEs, then append the group-encode chain
    head, _sep, _tail = base.partition("SELECT CAST(1 AS BIGINT) AS round")
    head = head.rstrip().rstrip(",")
    # the words CTE in _bpe_sql lacks source; swap it for a sourced one and
    # derive the global-training view from it
    head = head.replace(
        """WITH words AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
  FROM documents
),""",
        """WITH words AS (
  SELECT source, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
  FROM documents
),""",
        1,
    )
    gv = ["""gv0 AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS cnt,
         regexp_replace(w, '(.)', '[\\1]', 'g') AS s
  FROM words WHERE length(w) >= 2 GROUP BY source, w
)"""]
    for r in range(1, n_rounds + 1):
        gv.append(f"""gv{r} AS (
  SELECT source, w, cnt,
         replace(s, '[' || b.a || '][' || b.b || ']',
                 '[' || b.a || b.b || ']') AS s
  FROM gv{r - 1}, b{r} b
)""")
    chain = ",\n".join(gv)
    return f"""{head},
{chain},
enc AS (
  SELECT source, w, cnt,
         CAST(len(string_split(substr(s, 2, length(s) - 2), '][')) AS BIGINT)
           AS nsub
  FROM gv{n_rounds}
)
SELECT source,
       CAST(sum(cnt) AS BIGINT) AS n_words,
       CAST(sum(cnt * length(w)) AS BIGINT) AS n_chars,
       CAST(sum(cnt * nsub) AS BIGINT) AS n_subwords,
       CAST(sum(cnt * nsub) * 1000000 // sum(cnt) AS BIGINT)
         AS fertility_ppm,
       CAST(sum(cnt * nsub) * 1000000 // sum(cnt * length(w)) AS BIGINT)
         AS compression_ppm
FROM enc GROUP BY source
"""


def _pca_sql(iters: int = 3) -> str:
    """Integer power-iteration replay: gram CTE, then per round one
    matvec join+agg, a 1-row max, and a truncating fixed-point
    renormalization (sign * (|w|*1e6 // mx) — DuckDB's // truncates
    toward zero, matching the Spark driver's explicit trunc division);
    final sign canonicalized on the largest-|component| (ties: smallest
    index)."""
    rounds = []
    prev = "v0"
    for r in range(1, iters + 1):
        rounds.append(f"""w{r} AS (
  SELECT g.i, CAST(sum(g.sum_xy * v.v) AS BIGINT) AS w
  FROM g JOIN {prev} v ON v.i = g.j GROUP BY g.i
),
m{r} AS (SELECT greatest(max(abs(w)), 1) AS mx FROM w{r}),
v{r} AS (
  SELECT i, CAST((CAST(abs(w) AS HUGEINT) * 1000000) // mx AS BIGINT)
           * (CASE WHEN w >= 0 THEN 1 ELSE -1 END) AS v
  FROM w{r}, m{r}
)""")
        prev = f"v{r}"
    body = ",\n".join(rounds)
    return f"""
WITH d AS (
  SELECT vec_id, list_transform(embedding,
    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM embeddings
),
a AS (
  SELECT vec_id, CAST(i AS BIGINT) AS i, q[CAST(i AS INT)] AS xi
  FROM (SELECT vec_id, q, unnest(range(1, 65)) AS i FROM d)
),
g AS (
  SELECT x.i AS i, y.i AS j, CAST(sum(x.xi * y.xi) AS BIGINT) AS sum_xy
  FROM a x JOIN a y ON x.vec_id = y.vec_id
  GROUP BY 1, 2
),
v0 AS (
  SELECT CAST(i AS BIGINT) AS i, CAST(1000000 AS BIGINT) AS v
  FROM (SELECT unnest(range(1, 65)) AS i)
),
{body},
sgn AS (
  SELECT CASE WHEN v >= 0 THEN 1 ELSE -1 END AS s
  FROM (SELECT v, row_number() OVER (ORDER BY abs(v) DESC, i) AS rn
        FROM {prev})
  WHERE rn = 1
)
SELECT a.vec_id, CAST(sum(a.xi * v.v) * s.s AS BIGINT) AS score
FROM a JOIN {prev} v ON v.i = a.i CROSS JOIN sgn s
GROUP BY a.vec_id, s.s
"""


def _lang_sql() -> str:
    score_cols = ",\n    ".join(
        "len(list_filter(toks, t -> t IN ({}))) AS s_{}".format(
            ", ".join(f"'{m}'" for m in markers), lang
        )
        for lang, markers in tx.LANG_MARKERS
    )
    langs = [lang for lang, _ in tx.LANG_MARKERS]
    best = "greatest({})".format(", ".join(f"s_{lang}" for lang in langs))
    case = " ".join(
        f"WHEN best > 0 AND s_{lang} = best THEN '{lang}'" for lang in langs
    )
    return f"""
WITH normd AS (SELECT doc_id, {_NORM} AS n FROM documents),
tk AS (SELECT doc_id, string_split(n, ' ') AS toks FROM normd),
sc AS (SELECT doc_id,
    {score_cols}
  FROM tk),
b AS (SELECT *, {best} AS best FROM sc)
SELECT doc_id, CASE {case} ELSE 'und' END AS pred_lang FROM b
""".strip()


_EMB_D = (
    "d AS (SELECT vec_id, label,"
    " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings)"
)


def _dot_sql(a: str, b: str) -> str:
    return f"list_sum(list_transform(range(1, 65), i -> {a}.e[i] * {b}.e[i]))"


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
    )



_PACK_WITH = f"""
WITH RECURSIVE n0 AS (SELECT doc_id, {_NORM} AS n FROM documents),
sized AS (
  SELECT doc_id,
         CAST(CASE WHEN n = '' THEN 0 ELSE len(string_split(n, ' ')) END AS BIGINT) AS n_tok,
         CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS INT) AS shard
  FROM n0
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY shard ORDER BY n_tok DESC, doc_id) AS INT) AS rk
  FROM sized
),
pack AS (
  SELECT shard, rk, doc_id, n_tok,
         CAST(0 AS BIGINT) AS idx,
         n_tok > 128 AS oversize,
         CASE WHEN n_tok >= 128 THEN [CAST(-1 AS BIGINT)]
              ELSE [CAST(128 - n_tok AS BIGINT)] END AS bins
  FROM ranked WHERE rk = 1
  UNION ALL
  SELECT shard, rk, doc_id, n_tok,
         CAST(CASE WHEN n_tok >= 128 THEN len(bins)
                   WHEN ff > 0 THEN ff - 1
                   ELSE len(bins) END AS BIGINT) AS idx,
         n_tok > 128 AS oversize,
         CASE WHEN n_tok >= 128 THEN list_append(bins, CAST(-1 AS BIGINT))
              WHEN ff > 0 THEN list_transform(range(1, len(bins) + 1),
                     i -> CASE WHEN i = ff THEN bins[CAST(i AS INT)] - n_tok
                               ELSE bins[CAST(i AS INT)] END)
              ELSE list_append(bins, CAST(128 - n_tok AS BIGINT)) END AS bins
  FROM (
    SELECT p.shard, r.rk, r.doc_id, r.n_tok, p.bins,
           list_position(list_transform(p.bins, b -> b >= r.n_tok), true) AS ff
    FROM pack p JOIN ranked r ON r.shard = p.shard AND r.rk = p.rk + 1
  )
)"""

_PACK_SELECT = f"""SELECT doc_id, n_tok, shard,
       CAST(shard AS BIGINT) * 4294967296 + idx AS bin_id,
       oversize
FROM pack"""

_PACK_FFD_SQL = _PACK_WITH + "\n" + _PACK_SELECT


def oracle_sql() -> dict[str, str]:
    gap = SESSION_GAP_US
    out = {
        "tumbling_window": f"""
WITH {_TX}
SELECT (epoch_us(ts) // {DAY_US}) * {DAY_US} AS window_start_us,
       (epoch_us(ts) // {DAY_US}) * {DAY_US} + {DAY_US} AS window_end_us,
       role,
       count(*) AS n,
       count(DISTINCT conv_id) AS n_convs
FROM transcripts
GROUP BY 1, 2, 3
""",
        "tumbling_window_sql": f"""
WITH {_TX}
SELECT (epoch_us(ts) // {DAY_US}) * {DAY_US} AS window_start_us,
       (epoch_us(ts) // {DAY_US}) * {DAY_US} + {DAY_US} AS window_end_us,
       role,
       count(*) AS n,
       count(DISTINCT conv_id) AS n_convs
FROM transcripts
GROUP BY 1, 2, 3
""",
        "sliding_window": f"""
WITH {_TX}
SELECT (epoch_us(ts) // {DAY_US} - k) * {DAY_US} AS window_start_us,
       (epoch_us(ts) // {DAY_US} - k) * {DAY_US} + 2 * {DAY_US} AS window_end_us,
       count(*) AS n,
       count(DISTINCT conv_id) AS n_convs
FROM transcripts, (VALUES (0), (1)) t(k)
GROUP BY 1, 2
""",
        "session_window": f"""
WITH {_TX},
e AS (SELECT conv_id, turn_idx, epoch_us(ts) AS eu FROM transcripts),
m AS (SELECT *, CASE WHEN eu - lag(eu) OVER (PARTITION BY conv_id ORDER BY eu, turn_idx) > {gap}
                     THEN 1 ELSE 0 END AS brk FROM e),
s AS (SELECT *, SUM(brk) OVER (PARTITION BY conv_id ORDER BY eu, turn_idx
                               ROWS UNBOUNDED PRECEDING) AS sid FROM m)
SELECT MIN(eu) AS session_start_us,
       MAX(eu) + {gap} AS session_end_us,
       conv_id,
       count(*) AS n_turns,
       max(turn_idx) AS max_turn
FROM s GROUP BY conv_id, sid
""",
        "session_window_sql": f"""
WITH {_TX},
e AS (SELECT conv_id, turn_idx, epoch_us(ts) AS eu FROM transcripts),
m AS (SELECT *, CASE WHEN eu - lag(eu) OVER (PARTITION BY conv_id ORDER BY eu, turn_idx) > {gap}
                     THEN 1 ELSE 0 END AS brk FROM e),
s AS (SELECT *, SUM(brk) OVER (PARTITION BY conv_id ORDER BY eu, turn_idx
                               ROWS UNBOUNDED PRECEDING) AS sid FROM m)
SELECT MIN(eu) AS session_start_us,
       MAX(eu) + {gap} AS session_end_us,
       conv_id,
       count(*) AS n_turns,
       max(turn_idx) AS max_turn
FROM s GROUP BY conv_id, sid
""",
        "concurrency_curve": f"""
WITH {_TX},
e AS (SELECT conv_id, turn_idx, epoch_us(ts) AS eu FROM transcripts),
m AS (SELECT *, CASE WHEN eu - lag(eu) OVER (PARTITION BY conv_id ORDER BY eu, turn_idx) > {gap}
                     THEN 1 ELSE 0 END AS brk FROM e),
s AS (SELECT *, SUM(brk) OVER (PARTITION BY conv_id ORDER BY eu, turn_idx
                               ROWS UNBOUNDED PRECEDING) AS sid FROM m),
sess AS (
  SELECT MIN(eu) AS s_us, MAX(eu) + {gap} AS e_us
  FROM s GROUP BY conv_id, sid
),
deltas AS (
  SELECT boundary_us, CAST(sum(d) AS BIGINT) AS delta FROM (
    SELECT ((s_us + 3599999999) // 3600000000) * 3600000000
             AS boundary_us, 1 AS d FROM sess
    UNION ALL
    SELECT ((e_us + 3599999999) // 3600000000) * 3600000000, -1 FROM sess
  ) GROUP BY 1
)
SELECT boundary_us, delta,
       CAST(sum(delta) OVER (
         ORDER BY boundary_us
         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS active
FROM deltas
""",
        "session_window_two_phase": f"""
WITH {_TX},
e AS (SELECT conv_id, turn_idx, epoch_us(ts) AS eu FROM transcripts),
m AS (SELECT *, CASE WHEN eu - lag(eu) OVER (PARTITION BY conv_id ORDER BY eu, turn_idx) > {gap}
                     THEN 1 ELSE 0 END AS brk FROM e),
s AS (SELECT *, SUM(brk) OVER (PARTITION BY conv_id ORDER BY eu, turn_idx
                               ROWS UNBOUNDED PRECEDING) AS sid FROM m)
SELECT MIN(eu) AS session_start_us,
       MAX(eu) + {gap} AS session_end_us,
       conv_id,
       count(*) AS n_turns,
       max(turn_idx) AS max_turn
FROM s GROUP BY conv_id, sid
""",
        "paired_turns": f"""
WITH {_TX},
l AS (
  SELECT conv_id, turn_idx, role, text, epoch_us(ts) AS eu,
         lead(turn_idx) OVER w AS n_idx,
         lead(role) OVER w AS n_role,
         lead(text) OVER w AS n_text,
         lead(epoch_us(ts)) OVER w AS n_eu
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id,
       turn_idx AS user_turn_idx,
       text AS user_text,
       eu AS user_ts_us,
       CASE WHEN n_role IS NOT NULL AND n_role <> 'user' THEN n_idx END AS reply_turn_idx,
       CASE WHEN n_role IS NOT NULL AND n_role <> 'user' THEN n_role END AS reply_role,
       CASE WHEN n_role IS NOT NULL AND n_role <> 'user' THEN n_text END AS reply_text,
       CASE WHEN n_role IS NOT NULL AND n_role <> 'user' THEN n_eu END AS reply_ts_us,
       CASE WHEN n_role IS NOT NULL AND n_role <> 'user' THEN n_eu - eu END AS latency_us
FROM l WHERE role = 'user'
""",
        "conv_document": f"""
WITH {_TX},
a AS (
  SELECT conv_id,
         string_agg(text, ' ' ORDER BY turn_idx) AS doc_text,
         count(*) AS n_turns
  FROM transcripts GROUP BY conv_id
)
SELECT conv_id, n_turns,
       CAST(length(doc_text) AS BIGINT) AS doc_chars,
       substr(md5(doc_text), 1, 16) AS doc_fp
FROM a
""",
        "conversation_stats": f"""
WITH {_TX}
SELECT conv_id,
       count(*) AS n_turns,
       CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
       CAST(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tool,
       min(epoch_us(ts)) AS first_us,
       max(epoch_us(ts)) AS last_us,
       max(turn_idx) AS max_turn
FROM transcripts GROUP BY conv_id
""",
        "dedup_upsert": f"""
WITH {_TX},
t AS (SELECT conv_id, turn_idx, text, CAST(substr(conv_id, 6) AS BIGINT) AS uid FROM transcripts),
ev AS (
  SELECT conv_id, turn_idx, text, CAST(uid * 1000000 + turn_idx * 2 AS BIGINT) AS off, false AS del FROM t
  UNION ALL
  SELECT conv_id, turn_idx, text, CAST(uid * 1000000 + turn_idx * 2 AS BIGINT), false FROM t WHERE turn_idx % 7 = 0
  UNION ALL
  SELECT conv_id, turn_idx, 'upd:' || text, CAST(uid * 1000000 + turn_idx * 2 + 1 AS BIGINT), false FROM t WHERE turn_idx % 5 = 0
  UNION ALL
  SELECT conv_id, turn_idx, text, CAST(uid * 1000000 + 900000 + turn_idx AS BIGINT), true FROM t WHERE turn_idx % 13 = 0
),
w AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY off DESC) AS rn FROM ev)
SELECT conv_id, turn_idx, text, off AS offset FROM w WHERE rn = 1 AND NOT del
""",
        # the MOR table path must give the SAME answer as the CoW dedup —
        # an independent last-writer-wins replay over the event stream
        "dedup_upsert_mor": f"""
WITH {_TX},
t AS (SELECT conv_id, turn_idx, text, CAST(substr(conv_id, 6) AS BIGINT) AS uid FROM transcripts),
ev AS (
  SELECT conv_id, turn_idx, text, CAST(uid * 1000000 + turn_idx * 2 AS BIGINT) AS off, false AS del FROM t
  UNION ALL
  SELECT conv_id, turn_idx, text, CAST(uid * 1000000 + turn_idx * 2 AS BIGINT), false FROM t WHERE turn_idx % 7 = 0
  UNION ALL
  SELECT conv_id, turn_idx, 'upd:' || text, CAST(uid * 1000000 + turn_idx * 2 + 1 AS BIGINT), false FROM t WHERE turn_idx % 5 = 0
  UNION ALL
  SELECT conv_id, turn_idx, text, CAST(uid * 1000000 + 900000 + turn_idx AS BIGINT), true FROM t WHERE turn_idx % 13 = 0
),
w AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY off DESC) AS rn FROM ev)
SELECT conv_id, turn_idx, text, off AS offset FROM w WHERE rn = 1 AND NOT del
""",
        "corpus_clean_funnel": f"""
WITH {_TX},
a AS (
  SELECT conv_id, string_agg(text, ' ' ORDER BY turn_idx) AS doc_text
  FROM transcripts GROUP BY conv_id
),
n0 AS (
  SELECT conv_id, doc_text,
         trim(regexp_replace(regexp_replace(lower(doc_text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS n
  FROM a
),
tk AS (
  SELECT *,
    CASE WHEN n = '' THEN 0 ELSE len(string_split(n, ' ')) END AS k,
    CASE WHEN n = '' THEN []::VARCHAR[] ELSE string_split(n, ' ') END AS toks,
    length(doc_text) - length(regexp_replace(doc_text, '[a-zA-Z]', '', 'g')) AS letters
  FROM n0
),
m AS (
  SELECT conv_id, n,
    (k >= 5 AND k <= 100000
     AND (CASE WHEN k > 0 THEN ((length(n) - (k - 1)) * 10) // k ELSE 0 END) BETWEEN 30 AND 100
     AND (CASE WHEN length(doc_text) > 0 THEN (letters * 1000) // length(doc_text) ELSE 0 END) >= 600
     AND len(list_filter(toks, t -> t IN ({_STOPWORDS_SQL}))) >= 1) AS keep,
    substr(md5(n), 1, 16) AS fp
  FROM tk
)
SELECT count(*) AS n_total,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       count(DISTINCT CASE WHEN keep THEN fp END) AS n_final
FROM m
""",
        "salted_conv_counts": f"""
WITH {_TX}
SELECT conv_id, count(*) AS n FROM transcripts GROUP BY conv_id
""",
        "cep_pattern": f"""
WITH {_TX},
l AS (
  SELECT conv_id, turn_idx, role,
         lead(role, 1) OVER w AS r1,
         lead(role, 2) OVER w AS r2,
         lead(turn_idx, 2) OVER w AS i2,
         epoch_us(ts) AS start_us,
         lead(epoch_us(ts), 2) OVER w AS end_us
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, turn_idx AS start_turn, start_us, end_us,
       end_us - start_us AS span_us
FROM l
WHERE role = 'user' AND r1 = 'tool' AND r2 = 'user'
  AND i2 = turn_idx + 2
""",
        "cep_match_extract": f"""
WITH {_TX},
s AS (
  SELECT conv_id,
         string_agg(CASE role WHEN 'user' THEN 'u' WHEN 'tool' THEN 't'
                    ELSE 'a' END, '' ORDER BY turn_idx) AS role_str
  FROM transcripts GROUP BY conv_id
),
m AS (
  SELECT conv_id, regexp_extract_all(role_str, 'u(?:au)+') AS ms FROM s
),
u AS (
  SELECT conv_id,
         generate_subscripts(ms, 1) - 1 AS match_seq,
         unnest(ms) AS match_str
  FROM m
)
SELECT conv_id, CAST(match_seq AS INT) AS match_seq, match_str,
       CAST(length(match_str) AS INT) AS match_len
FROM u
""",
        "cep_sequence_counts": f"""
WITH {_TX},
s AS (
  SELECT conv_id,
         CAST(count(*) AS INT) AS n_turns,
         string_agg(CASE role WHEN 'user' THEN 'u' WHEN 'tool' THEN 't'
                    ELSE 'a' END, '' ORDER BY turn_idx) AS role_str
  FROM transcripts GROUP BY conv_id
)
SELECT conv_id, n_turns,
       CAST(len(regexp_extract_all(role_str, 'utu')) AS INT) AS tool_trips,
       CAST(COALESCE(list_aggregate(list_transform(
            regexp_extract_all(role_str, 'utu'), x -> length(x)), 'max'), 0)
            AS INT) AS longest_tool_trips,
       CAST(len(regexp_extract_all(role_str, 'u(?:au)+')) AS INT)
            AS assist_runs,
       CAST(COALESCE(list_aggregate(list_transform(
            regexp_extract_all(role_str, 'u(?:au)+'), x -> length(x)),
            'max'), 0) AS INT) AS longest_assist_runs
FROM s
""",
        "tool_precedence": f"""
WITH {_TX},
inv AS (
  SELECT conv_id, tool,
         min(turn_idx) AS first_idx, max(turn_idx) AS last_idx
  FROM transcripts WHERE tool IS NOT NULL
  GROUP BY 1, 2
),
tot AS (SELECT count(DISTINCT conv_id) AS n_tool_convs FROM inv),
p AS (
  SELECT x.tool AS tool_a, y.tool AS tool_b,
         CAST(count(*) AS BIGINT) AS support
  FROM inv x JOIN inv y ON x.conv_id = y.conv_id
  WHERE x.tool <> y.tool AND x.first_idx < y.last_idx
  GROUP BY 1, 2
)
SELECT tool_a, tool_b, support,
       CAST((support * 1000000) // n_tool_convs AS BIGINT) AS support_ppm
FROM p, tot
""",
        "late_data_flags": f"""
WITH {_TX},
a AS (
  SELECT conv_id, turn_idx, epoch_us(ts) AS eu,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY md5(conv_id || ':' || CAST(turn_idx AS VARCHAR))) AS arrival_seq
  FROM transcripts
),
r AS (
  SELECT *, max(eu) OVER (PARTITION BY conv_id ORDER BY arrival_seq
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max
  FROM a
)
SELECT conv_id, turn_idx,
       coalesce(eu < run_max - 600000000, false) AS is_late
FROM r
""",
        "topk_turns": f"""
WITH {_TX},
r AS (
  SELECT conv_id, turn_idx, CAST(length(text) AS BIGINT) AS text_len,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY length(text) DESC, turn_idx) AS rk
  FROM transcripts
)
SELECT conv_id, turn_idx, text_len, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 3
""",
        "role_rollup": f"""
WITH {_TX}
SELECT coalesce(role, '<all>') AS role_g,
       coalesce(tool, '<all>') AS tool_g,
       CAST(GROUPING(role) AS BIGINT) AS g_role,
       CAST(GROUPING(tool) AS BIGINT) AS g_tool,
       count(*) AS n,
       count(DISTINCT conv_id) AS n_convs
FROM transcripts
GROUP BY ROLLUP (role, tool)
""",
        "envelope_roundtrip": f"""
WITH {_TX}
SELECT conv_id,
       turn_idx,
       role,
       text,
       tool,
       (epoch_us(ts) // 1000000) * 1000000 AS ts_us,
       CAST(epoch_us(ts) // 1000 + 1000 AS BIGINT) AS commit_ts,
       CAST(turn_idx AS BIGINT) AS offset,
       CAST(CAST(substr(conv_id, 6) AS INT) % 4 AS INT) AS partition_idx,
       (turn_idx % 13 = 0) AS is_cdc_delete
FROM transcripts
""",
        "pk_mismatch": f"""
WITH {_TX}
SELECT 'chat' AS database,
       'transcripts' AS src_table,
       'conv_id' AS pk_names,
       'conv_id,turn_idx' AS expected_pk,
       CAST(turn_idx AS BIGINT) AS offset,
       CAST(CAST(substr(conv_id, 6) AS INT) % 4 AS INT) AS partition_idx
FROM transcripts
WHERE turn_idx % 7 = 0 AND turn_idx % 11 <> 0
""",
        "update_diffs": f"""
WITH {_TX},
u AS (
  SELECT conv_id, turn_idx, role, text,
         CAST(turn_idx AS BIGINT) AS "offset",
         CAST(CAST(substr(conv_id, 6) AS INT) % 4 AS INT) AS partition_idx
  FROM transcripts WHERE turn_idx % 3 = 0 AND turn_idx > 0
)
SELECT conv_id,
       CAST(turn_idx AS VARCHAR) AS turn_idx,
       'text' AS field,
       CASE WHEN lower(trim(reverse(text))) = 'null' THEN NULL
            ELSE reverse(text) END AS old_value,
       CASE WHEN lower(trim(text)) = 'null' THEN NULL ELSE text END
         AS new_value,
       u."offset", partition_idx
FROM u WHERE turn_idx % 2 = 0
UNION ALL
SELECT conv_id,
       CAST(turn_idx AS VARCHAR) AS turn_idx,
       'role' AS field,
       'draft' AS old_value,
       CASE WHEN lower(trim(role)) = 'null' THEN NULL ELSE role END
         AS new_value,
       u."offset", partition_idx
FROM u WHERE turn_idx % 5 = 0
""",
        "text_quality": f"""
WITH n0 AS (
  SELECT doc_id, text, {_NORM} AS n FROM documents
),
tk AS (
  SELECT *,
    CASE WHEN n = '' THEN 0 ELSE len(string_split(n, ' ')) END AS k,
    CASE WHEN n = '' THEN []::VARCHAR[] ELSE string_split(n, ' ') END AS toks,
    length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS letters
  FROM n0
),
m AS (
  SELECT doc_id, k, letters, text,
    CAST(len(text) AS BIGINT) AS n_chars_calc,
    CAST(k AS BIGINT) AS n_tok,
    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tok,
    CAST(CASE WHEN k > 0 THEN ((length(n) - (k - 1)) * 1000000) // k ELSE 0 END AS BIGINT) AS avg_word_len_ppm,
    CAST(len(list_filter(toks, t -> t IN ({_STOPWORDS_SQL}))) AS BIGINT) AS sw
  FROM tk
)
SELECT doc_id, n_chars_calc, n_tok, bpe_tok, avg_word_len_ppm,
       CAST(CASE WHEN k > 0 THEN (sw * 1000000) // k ELSE 0 END AS BIGINT) AS stopword_ppm,
       CAST(CASE WHEN length(text) > 0 THEN (letters * 1000000) // length(text) ELSE 0 END AS BIGINT) AS alpha_ppm,
       CAST(800 * least(length(text), 500)
            + CASE WHEN k > 0 THEN (sw * 300000) // k ELSE 0 END
            + CASE WHEN length(text) > 0 THEN (letters * 300000) // length(text) ELSE 0 END AS BIGINT) AS quality_ppm
FROM m
""",
        "lang_id": _lang_sql(),
        "doc_fingerprint": f"""
SELECT doc_id, substr(md5({_NORM}), 1, 16) AS fp FROM documents
""",
        "pii_redact": r"""
WITH t AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 3 = 0
         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         ELSE '' END
    || CASE WHEN doc_id % 4 = 0
         THEN ' from 10.2.' || CAST(doc_id % 250 AS VARCHAR) || '.7'
         ELSE '' END
    || CASE WHEN doc_id % 5 = 0
         THEN ' call 555-' || CAST(100 + doc_id % 900 AS VARCHAR)
              || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
         ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t,
    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT)
    AS n_email,
  CAST(len(regexp_extract_all(t,
    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT)
    AS n_ip,
  CAST(len(regexp_extract_all(t,
    '\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\b')) AS BIGINT) AS n_phone,
  substr(md5(
    regexp_replace(
      regexp_replace(
        regexp_replace(t,
          '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
      '\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\b', '<PHONE>', 'g')
  ), 1, 16) AS redacted_hash
FROM t
""",
        "top_rare_terms": f"""
WITH n0 AS (SELECT doc_id, {_NORM} AS n FROM documents),
tk AS (
  SELECT doc_id, unnest(string_split(n, ' ')) AS token
  FROM n0 WHERE n <> ''
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
r AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
    ROW_NUMBER() OVER (
      PARTITION BY tf.doc_id
      ORDER BY tf.tf DESC, dfq.df ASC, tf.token
    ) AS rnk
  FROM tf JOIN dfq USING (token)
)
SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= 3
""",
        "enriched_turns": f"""
WITH {_TX},
dim AS (
  SELECT DISTINCT tool,
         'team_' || CAST(CAST(substr(tool, 6, 1) AS INT) % 3 AS VARCHAR)
           AS owner
  FROM transcripts WHERE tool IS NOT NULL
)
SELECT t.role AS role,
       coalesce(d.owner, '<none>') AS owner,
       count(*) AS n,
       count(DISTINCT t.conv_id) AS n_convs
FROM transcripts t LEFT JOIN dim d ON t.tool = d.tool
GROUP BY 1, 2
""",
        "missing_replies": f"""
WITH {_TX},
nt AS (SELECT * FROM transcripts WHERE role <> 'tool'),
lg AS (
  SELECT conv_id, turn_idx, role,
    LAG(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx)
      AS prev_turn_idx,
    LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
  FROM nt
)
SELECT conv_id,
       CAST(prev_turn_idx AS BIGINT) AS asked_turn,
       CAST(turn_idx AS BIGINT) AS next_user_turn
FROM lg WHERE role = 'user' AND prev_role = 'user'
""",
        "doc_chunks": f"""
WITH n0 AS (SELECT doc_id, {_NORM} AS n FROM documents),
t AS (
  SELECT doc_id,
    CASE WHEN n = '' THEN []::VARCHAR[] ELSE string_split(n, ' ') END AS toks
  FROM n0
),
s AS (SELECT doc_id, toks, len(toks) AS k FROM t),
c AS (
  SELECT doc_id, toks, k, unnest(range(0, k, 16)) AS cs
  FROM s WHERE k > 0
)
SELECT doc_id,
  CAST(cs // 16 AS BIGINT) AS chunk_idx,
  CAST(cs AS BIGINT) AS chunk_start,
  CAST(least(24, k - cs) AS BIGINT) AS chunk_len,
  substr(md5(array_to_string(toks[cs + 1 : cs + 24], ' ')), 1, 16)
    AS chunk_hash
FROM c
""",
        "gopher_rules": f"""
WITH n0 AS (SELECT doc_id, text, {_NORM} AS n FROM documents),
tk AS (
  SELECT *,
    CASE WHEN n = '' THEN 0 ELSE len(string_split(n, ' ')) END AS k,
    CASE WHEN n = '' THEN []::VARCHAR[] ELSE string_split(n, ' ') END AS toks,
    length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS letters
  FROM n0
),
m AS (
  SELECT doc_id, k,
    CASE WHEN k > 0 THEN ((length(n) - (k - 1)) * 10) // k ELSE 0 END AS awl10,
    CASE WHEN length(text) > 0 THEN (letters * 1000) // length(text) ELSE 0 END AS alpha_pm,
    len(list_filter(toks, t -> t IN ({_STOPWORDS_SQL}))) AS sw
  FROM tk
)
SELECT doc_id,
       k >= 5 AS ok_min_words,
       k <= 100000 AS ok_max_words,
       awl10 >= 30 AND awl10 <= 100 AS ok_word_len,
       alpha_pm >= 600 AS ok_alpha_ratio,
       sw >= 1 AS ok_has_stopword,
       (k >= 5 AND k <= 100000 AND awl10 >= 30 AND awl10 <= 100
        AND alpha_pm >= 600 AND sw >= 1) AS keep
FROM m
""",
        "pack_sequences": _PACK_FFD_SQL,
        "pack_bin_stats": f"""
{_PACK_WITH}
, final AS (
{_PACK_SELECT}
)
SELECT bin_id,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS fill_tok,
       CAST((sum(n_tok) * 1000000) // 128 AS BIGINT) AS fill_ppm
FROM final GROUP BY bin_id
""",
        "dataset_split": """
WITH b AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       bucket < 100 AS in_10pct_sample,
       CASE WHEN bucket < 100 THEN 'val'
            WHEN bucket < 200 THEN 'test'
            ELSE 'train' END AS split
FROM b
""",
        "vocab_topk": f"""
WITH normd AS (SELECT doc_id, {_NORM} AS n FROM documents),
tok0 AS (SELECT unnest(string_split(n, ' ')) AS token FROM normd),
counts AS (SELECT token, count(*) AS n FROM tok0 WHERE token <> '' GROUP BY token),
r AS (SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM counts)
SELECT token, n, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 20
""",
        # HLL replay: identical register hashing (md5 60-bit, top 12 bits ->
        # register, bin()-length rank), exact BIGINT register sums, and the
        # same linear-counting correction. The alpha*m^2 literal is the
        # Python double repr, bit-identical on DuckDB's parser.
        "hll_distinct": f"""
WITH h AS (
  SELECT o_orderpriority,
         CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM orders
),
r AS (
  SELECT o_orderpriority,
         CAST(h >> 48 AS INT) AS register,
         CAST(CASE WHEN (h & ((CAST(1 AS BIGINT) << 48) - 1)) = 0 THEN 49
              ELSE 49 - length(bin(h & ((CAST(1 AS BIGINT) << 48) - 1)))
              END AS INT) AS rank
  FROM h
),
m AS (
  SELECT o_orderpriority, register, max(rank) AS max_rank
  FROM r GROUP BY 1, 2
),
a AS (
  SELECT o_orderpriority,
         CAST(count(*) AS INT) AS occupied,
         CAST(sum(CAST(1 AS BIGINT) << (49 - max_rank)) AS BIGINT)
             AS occupied_sum
  FROM m GROUP BY 1
),
e AS (
  SELECT *,
         {sk._hll_alpha(4096) * 4096 * 4096!r}
           / (CAST(occupied_sum AS DOUBLE) / 562949953421312.0
              + CAST(4096 - occupied AS DOUBLE)) AS raw
  FROM a
)
SELECT o_orderpriority,
       occupied AS occupied_registers,
       CAST(4096 - occupied AS INT) AS empty_registers,
       occupied_sum,
       round(CASE WHEN raw <= 10240.0 AND occupied < 4096
                  THEN 4096.0 * ln(4096.0 / CAST(4096 - occupied AS DOUBLE))
                  ELSE raw END, 3) AS estimate
FROM e
""",
        "kmv_distinct": """
WITH h AS (
  SELECT DISTINCT
         CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM lineitem
),
k AS (SELECT h FROM h ORDER BY h LIMIT 256),
a AS (SELECT max(h) AS kth_hash, CAST(count(*) AS INT) AS sketch_size FROM k)
SELECT kth_hash, sketch_size,
       round(CASE WHEN sketch_size < 256 THEN CAST(sketch_size AS DOUBLE)
                  ELSE 255.0 * 1152921504606846976.0
                       / CAST(kth_hash AS DOUBLE) END, 3) AS estimate
FROM a
""",
        "heavy_hitters_exact": f"""
WITH normd AS (SELECT {_NORM} AS n FROM documents),
tok0 AS (SELECT unnest(string_split(n, ' ')) AS token FROM normd),
toks AS (SELECT token FROM tok0 WHERE token <> ''),
tot AS (SELECT count(*) AS n FROM toks)
SELECT token, count(*) AS cnt
FROM toks, tot
GROUP BY token, tot.n
HAVING count(*) >= greatest(n // 30, 1)
""",
        "countmin_hitters": f"""
WITH normd AS (SELECT {_NORM} AS n FROM documents),
tok0 AS (
  SELECT unnest(string_split(n, ' ')) AS token FROM normd
),
toks AS (SELECT token FROM tok0 WHERE token <> ''),
exact AS (SELECT token, count(*) AS exact_n FROM toks GROUP BY token),
cand AS (
  SELECT token, exact_n FROM exact ORDER BY exact_n DESC, token LIMIT 15
),
rws AS (SELECT CAST(unnest(range(0, 4)) AS INT) AS rw),
upd AS (
  SELECT rw,
         CAST(CAST(concat('0x', substr(md5(concat('cm', CAST(rw AS VARCHAR),
              ':', token)), 1, 15)) AS BIGINT) % 1024 AS INT) AS bucket
  FROM toks CROSS JOIN rws
),
cnt AS (SELECT rw, bucket, count(*) AS counter FROM upd GROUP BY 1, 2),
probe AS (
  SELECT c.token, c.exact_n, r.rw,
         CAST(CAST(concat('0x', substr(md5(concat('cm', CAST(r.rw AS VARCHAR),
              ':', c.token)), 1, 15)) AS BIGINT) % 1024 AS INT) AS bucket
  FROM cand c CROSS JOIN rws r
)
SELECT p.token, p.exact_n,
       CAST(min(COALESCE(cnt.counter, 0)) AS BIGINT) AS est_count
FROM probe p LEFT JOIN cnt ON p.rw = cnt.rw AND p.bucket = cnt.bucket
GROUP BY 1, 2
""",
        "repetition_stats": f"""
WITH n0 AS (SELECT doc_id, {_NORM} AS n FROM documents),
tk AS (
  SELECT doc_id,
         CASE WHEN n = '' THEN []::VARCHAR[] ELSE string_split(n, ' ') END AS toks
  FROM n0
),
base AS (
  SELECT doc_id, len(toks) AS k, len(list_distinct(toks)) AS d, toks FROM tk
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks), 1)),
                i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1])) AS b
  FROM tk WHERE len(toks) >= 2
),
bgc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
mx AS (SELECT doc_id, max(c) AS mc FROM bgc GROUP BY 1)
SELECT base.doc_id,
       CAST(CASE WHEN k > 0 THEN ((k - d) * 1000000) // k ELSE 0 END AS BIGINT) AS rep_token_ppm,
       CAST(CASE WHEN k >= 2 THEN (coalesce(mc, 0) * 1000000) // (k - 1) ELSE 0 END AS BIGINT) AS top_bigram_ppm
FROM base LEFT JOIN mx ON base.doc_id = mx.doc_id
""",
        "ivf_assign": """
WITH d AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
  FROM embeddings
),
pos AS (
  SELECT label, unnest(range(1, 65)) AS i, q FROM d
),
per_dim AS (
  SELECT label, i, SUM(q[CAST(i AS INT)]) AS s, COUNT(*) AS c
  FROM pos GROUP BY label, i
),
cent AS (
  SELECT label AS c_label, list(CAST(s // c AS BIGINT) ORDER BY i) AS cq
  FROM per_dim GROUP BY label
),
scored AS (
  SELECT d.vec_id, d.label, c.c_label,
         CAST(list_sum(list_transform(range(1, 65),
           i -> (d.q[i] - c.cq[i]) * (d.q[i] - c.cq[i]))) AS BIGINT) AS dist_q
  FROM d, cent c
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist_q, c_label) AS rn
  FROM scored
)
SELECT vec_id, label, c_label AS assigned_label, dist_q FROM r WHERE rn = 1
""",
        "dedup_exact": f"""
WITH {_AUG_EXACT},
f AS (SELECT doc_id, substr(md5({_NORM}), 1, 16) AS fp FROM aug),
g AS (SELECT fp, min(doc_id) AS keeper_id, count(*) AS group_size FROM f GROUP BY fp)
SELECT f.doc_id, f.fp, g.keeper_id, g.group_size FROM f JOIN g USING (fp)
""",
        "dedup_ngram_jaccard": f"""
WITH {_aug_near(True)},
{_SHINGLES},
sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
j AS (
  SELECT doc_a, doc_b,
         round(i * 1.0 / (sa.s + sb.s - i), 4) AS jaccard
  FROM inter
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
)
SELECT * FROM j WHERE jaccard >= 0.8
""",
        "dedup_containment": f"""
WITH {_aug_near(True)},
{_WORD_SHINGLES},
sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
c AS (
  SELECT doc_a, doc_b,
         CAST((i * 1000000) // sa.s AS BIGINT) AS cont_a_ppm,
         CAST((i * 1000000) // sb.s AS BIGINT) AS cont_b_ppm
  FROM inter
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
)
SELECT * FROM c WHERE cont_a_ppm >= 800000 OR cont_b_ppm >= 800000
""",
        # independent all-pairs ground truth over the same 5-gram sets the
        # prefix-filtered Spark implementation must reproduce exactly
        "dedup_prefix_join": f"""
WITH {_aug_near(True)},
{_WORD_SHINGLES},
sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
j AS (
  SELECT doc_a, doc_b,
         round(i * 1.0 / (sa.s + sb.s - i), 4) AS jaccard
  FROM inter
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
)
SELECT * FROM j WHERE jaccard >= 0.8
""",
        "dedup_editdist": f"""
WITH capped AS (
  SELECT doc_id, substr(text, 1, 160) AS text
  FROM (
    SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, substr(text, 8) AS text
    FROM documents WHERE doc_id % 10 = 0
  )
),
normd AS (SELECT doc_id, {_NORM} AS nrm FROM capped)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.nrm, b.nrm) AS INTEGER) AS dist
FROM normd a
JOIN normd b
  ON a.doc_id < b.doc_id
 AND abs(length(a.nrm) - length(b.nrm)) <= 15
WHERE levenshtein(a.nrm, b.nrm) <= 15
""",
        "dedup_minhash_lsh": f"""
WITH {_aug_near(False)},
{_SHINGLES},
perms(i, a, b) AS (VALUES {_PERM_VALUES}),
mh AS (
  SELECT sh.doc_id, perms.i,
         min((perms.a * (CAST(concat('0x', substr(md5(sh.g), 1, 8)) AS BIGINT) % {dd.MINHASH_P})
              + perms.b) % {dd.MINHASH_P}) AS v
  FROM sh, perms GROUP BY 1, 2
),
sig AS (SELECT doc_id, list(v ORDER BY i) AS l FROM mh GROUP BY doc_id),
bands AS (SELECT doc_id, l, unnest(range(0, {dd.N_BANDS})) AS band FROM sig),
bh AS (
  SELECT doc_id, band,
         md5(concat_ws(',', l[band * {dd.ROWS_PER_BAND} + 1], l[band * {dd.ROWS_PER_BAND} + 2],
                            l[band * {dd.ROWS_PER_BAND} + 3], l[band * {dd.ROWS_PER_BAND} + 4])) AS h
  FROM bands
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bh a JOIN bh b ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
),
est AS (
  SELECT doc_a, doc_b,
         round(list_sum(list_transform(range(1, {dd.N_PERMS} + 1),
               k -> CASE WHEN sa.l[k] = sb.l[k] THEN 1 ELSE 0 END)) / {float(dd.N_PERMS)}, 4) AS est_jaccard
  FROM cand
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b
)
SELECT * FROM est WHERE est_jaccard >= 0.875
""",
        "dedup_clusters": f"""
WITH RECURSIVE {_aug_near(False)},
{_SHINGLES},
perms(i, a, b) AS (VALUES {_PERM_VALUES}),
mh AS (
  SELECT sh.doc_id, perms.i,
         min((perms.a * (CAST(concat('0x', substr(md5(sh.g), 1, 8)) AS BIGINT) % {dd.MINHASH_P})
              + perms.b) % {dd.MINHASH_P}) AS v
  FROM sh, perms GROUP BY 1, 2
),
sig AS (SELECT doc_id, list(v ORDER BY i) AS l FROM mh GROUP BY doc_id),
bands AS (SELECT doc_id, l, unnest(range(0, {dd.N_BANDS})) AS band FROM sig),
bh AS (
  SELECT doc_id, band,
         md5(concat_ws(',', l[band * {dd.ROWS_PER_BAND} + 1], l[band * {dd.ROWS_PER_BAND} + 2],
                            l[band * {dd.ROWS_PER_BAND} + 3], l[band * {dd.ROWS_PER_BAND} + 4])) AS h
  FROM bands
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bh a JOIN bh b ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
),
est AS (
  SELECT doc_a, doc_b,
         round(list_sum(list_transform(range(1, {dd.N_PERMS} + 1),
               k -> CASE WHEN sa.l[k] = sb.l[k] THEN 1 ELSE 0 END)) / {float(dd.N_PERMS)}, 4) AS ej
  FROM cand
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b
),
e AS (
  SELECT doc_a AS src, doc_b AS dst FROM est WHERE ej >= 0.875
  UNION ALL
  SELECT doc_b, doc_a FROM est WHERE ej >= 0.875
),
reach(doc_id, comp) AS (
  SELECT doc_id, doc_id FROM aug
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN e ON e.src = r.doc_id
)
SELECT doc_id, CAST(min(comp) AS BIGINT) AS component FROM reach GROUP BY doc_id
""",
        "contamination": f"""
WITH {_aug_near(False)},
train AS (SELECT * FROM aug WHERE doc_id % 10 <> 0 OR doc_id >= 100000),
tn AS (SELECT doc_id, {_NORM} AS n FROM train),
bn AS (SELECT doc_id, {_NORM} AS n FROM documents WHERE doc_id % 10 = 0),
tw AS (SELECT doc_id, string_split(n, ' ') AS w FROM tn),
bw AS (SELECT doc_id, string_split(n, ' ') AS w FROM bn),
tg AS (
  SELECT DISTINCT doc_id,
         array_to_string(w[CAST(i AS INT):CAST(i + 4 AS INT)], ' ') AS g
  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 4, 0) + 1)) AS i FROM tw)
),
bg AS (
  SELECT DISTINCT array_to_string(w[CAST(i AS INT):CAST(i + 4 AS INT)], ' ') AS g
  FROM (SELECT w, unnest(range(1, greatest(len(w) - 4, 0) + 1)) AS i FROM bw)
),
hits AS (
  SELECT doc_id, count(*) AS n_shared FROM tg JOIN bg USING (g) GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared_ngrams,
       coalesce(h.n_shared, 0) > 0 AS contaminated
FROM train t LEFT JOIN hits h ON h.doc_id = t.doc_id
""",
        "stream_sample": """
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       md5(CAST(doc_id AS VARCHAR)) AS prio
FROM documents
ORDER BY prio, doc_id
LIMIT 100
""",
        "stratified_sample": f"""
WITH lang AS ({_lang_sql()}),
r AS (
  SELECT doc_id, pred_lang,
         row_number() OVER (
           PARTITION BY pred_lang
           ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
                    doc_id
         ) AS rk
  FROM lang
)
SELECT doc_id, pred_lang, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 20
""",
        "dedup_simhash": f"""
WITH normd AS (SELECT doc_id, {_NORM} AS n FROM documents),
tok0 AS (SELECT doc_id, unnest(string_split(n, ' ')) AS t FROM normd),
toks AS (SELECT DISTINCT doc_id, t FROM tok0 WHERE t <> ''),
th AS (SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h FROM toks),
bits AS (
  SELECT th.doc_id, j.j,
         sum(CASE WHEN (th.h >> CAST(j.j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th, (SELECT unnest(range(0, {dd.SIMHASH_BITS})) AS j) j
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
""",
        "dedup_embedding": f"""
WITH {_EMB_D}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_cos_sql('a', 'b')}, 6) AS cosine
FROM d a JOIN d b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({_cos_sql('a', 'b')}, 6) >= 0.35
""",
        # PQ replay: md5-bucket codebook (integer component means per
        # subspace), argmin encoding (ties to smaller code), per-query
        # integer LUT, ADC top-40 candidates, exact cosine rerank.
        "ann_pq_topk": """
WITH d AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q,
         CAST(CAST(concat('0x', substr(md5(concat('pq:', CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT) % 64 AS INT) AS bucket
  FROM embeddings
),
pos AS (SELECT bucket, unnest(range(1, 65)) AS i, q FROM d),
comp AS (
  SELECT bucket AS code, i, SUM(q[CAST(i AS INT)]) AS sm, COUNT(*) AS cnt
  FROM pos GROUP BY 1, 2
),
cb AS (
  SELECT CAST((i - 1) // 4 AS INT) AS s, code, i,
         CAST(sm // cnt AS BIGINT) AS cv
  FROM comp
),
enc0 AS (
  SELECT d.vec_id, cb.s, cb.code,
         CAST(SUM((d.q[CAST(cb.i AS INT)] - cb.cv)
                  * (d.q[CAST(cb.i AS INT)] - cb.cv)) AS BIGINT) AS dd
  FROM d CROSS JOIN cb
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, s, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, code) AS rn
    FROM enc0
  ) WHERE rn = 1
),
qlut AS (
  SELECT vec_id AS query_id, s, code, dd FROM enc0 WHERE vec_id < 8
),
adc AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, CAST(SUM(q.dd) AS BIGINT) AS adc_dist
  FROM codes c JOIN qlut q ON q.s = c.s AND q.code = c.code
  WHERE c.vec_id <> q.query_id
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
    FROM adc
  ) WHERE rn <= 40
),
sc AS (
  SELECT cand.query_id, cand.neighbor_id,
         round(list_sum(list_transform(range(1, 65), i -> qd.e[i] * cd.e[i]))
               / (sqrt(list_sum(list_transform(range(1, 65), i -> qd.e[i] * qd.e[i])))
                  * sqrt(list_sum(list_transform(range(1, 65), i -> cd.e[i] * cd.e[i])))), 6) AS cosine
  FROM cand
  JOIN d qd ON qd.vec_id = cand.query_id
  JOIN d cd ON cd.vec_id = cand.neighbor_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM sc
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine FROM r WHERE rank <= 5
""",
        "ann_ivf_topk": """
WITH d AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
  FROM embeddings
),
pos AS (SELECT label, unnest(range(1, 65)) AS i, q FROM d),
per_dim AS (
  SELECT label, i, SUM(q[CAST(i AS INT)]) AS s, COUNT(*) AS c
  FROM pos GROUP BY label, i
),
cent AS (
  SELECT label AS c_label, list(CAST(s // c AS BIGINT) ORDER BY i) AS cq
  FROM per_dim GROUP BY label
),
ascore AS (
  SELECT d.vec_id, c.c_label,
         CAST(list_sum(list_transform(range(1, 65),
           i -> (d.q[i] - c.cq[i]) * (d.q[i] - c.cq[i]))) AS BIGINT) AS dist_q
  FROM d, cent c
),
assigned AS (
  SELECT vec_id AS neighbor_id, c_label AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist_q, c_label) AS rn
    FROM ascore
  ) WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, c_label AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist_q, c_label) AS rn
    FROM ascore WHERE vec_id < 8
  ) WHERE rn <= 2
),
cand AS (
  SELECT DISTINCT qp.query_id, a.neighbor_id
  FROM qprobe qp JOIN assigned a ON a.cell = qp.cell
  WHERE a.neighbor_id <> qp.query_id
),
sc AS (
  SELECT cand.query_id, cand.neighbor_id,
         round(list_sum(list_transform(range(1, 65), i -> qd.e[i] * cd.e[i]))
               / (sqrt(list_sum(list_transform(range(1, 65), i -> qd.e[i] * qd.e[i])))
                  * sqrt(list_sum(list_transform(range(1, 65), i -> cd.e[i] * cd.e[i])))), 6) AS cosine
  FROM cand
  JOIN d qd ON qd.vec_id = cand.query_id
  JOIN d cd ON cd.vec_id = cand.neighbor_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM sc
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine FROM r WHERE rank <= 5
""",
        "ann_lsh_topk": f"""
WITH {_EMB_D},
pl(t, p, i, v) AS (VALUES {_LSH_PLANE_VALUES}),
plane AS (SELECT t, p, list(v ORDER BY i) AS pv FROM pl GROUP BY t, p),
proj AS (
  SELECT d.vec_id, plane.t, plane.p,
         list_sum(list_transform(range(1, 65), i -> d.e[i] * plane.pv[i])) AS s
  FROM d, plane
),
bucket AS (
  SELECT vec_id, t,
         string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS b
  FROM proj GROUP BY vec_id, t
),
qb AS (SELECT * FROM bucket WHERE vec_id < 8),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM qb JOIN bucket cb ON qb.t = cb.t AND qb.b = cb.b
  WHERE cb.vec_id <> qb.vec_id
),
sc AS (
  SELECT cand.query_id, cand.neighbor_id,
         round({_cos_sql('q', 'c')}, 6) AS cosine
  FROM cand
  JOIN d q ON q.vec_id = cand.query_id
  JOIN d c ON c.vec_id = cand.neighbor_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM sc
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine FROM r WHERE rank <= 5
""",
        "ann_brute_topk": f"""
WITH {_EMB_D},
q AS (SELECT * FROM d WHERE vec_id < 8),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_cos_sql('q', 'c')}, 6) AS cosine
  FROM q JOIN d c ON c.vec_id <> q.vec_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM s)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine FROM r WHERE rank <= 5
""",
        "hard_negatives": f"""
WITH {_EMB_D},
q AS (SELECT * FROM d WHERE vec_id < 8),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         c.label AS neg_label,
         round({_cos_sql('q', 'c')}, 6) AS cosine
  FROM q JOIN d c ON c.vec_id <> q.vec_id AND c.label <> q.label
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM s)
SELECT query_id, neighbor_id, neg_label, CAST(rank AS BIGINT) AS rank, cosine
FROM r WHERE rank <= 5
""",
        "blob_meta": """
SELECT doc_id,
       'text/plain' AS mime,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha
FROM documents
""",
        "blob_features": """
WITH pos AS (
  SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i FROM documents
),
m AS (
  SELECT doc_id,
         CAST((sum(ascii(substr(text, CAST(i AS INT), 1))) * 1000000) // count(*) AS BIGINT) AS byte_mean_ppm
  FROM pos GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
       m.byte_mean_ppm,
       lower(hex(encode(substr(d.text, 1, 8)))) AS head_hex
FROM documents d JOIN m ON m.doc_id = d.doc_id
""",
        "latency_percentiles": f"""
WITH {_TX},
l AS (
  SELECT conv_id, role, epoch_us(ts) AS eu,
         lead(role) OVER w AS n_role,
         lead(epoch_us(ts)) OVER w AS n_eu
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
p AS (
  SELECT n_role AS reply_role, n_eu - eu AS latency_us
  FROM l
  WHERE role = 'user' AND n_role IS NOT NULL AND n_role <> 'user'
)
SELECT reply_role,
       round(quantile_cont(latency_us, 0.5), 4) AS p50_us,
       round(quantile_cont(latency_us, 0.9), 4) AS p90_us,
       round(quantile_cont(latency_us, 0.99), 4) AS p99_us,
       count(*) AS n
FROM p GROUP BY reply_role
""",
        "value_histogram": """
SELECT event_type,
       CAST(floor(value / 100) AS BIGINT) AS bucket,
       count(*) AS n
FROM events
GROUP BY 1, 2
""",
        "conv_funnel": f"""
WITH {_TX},
sizes AS (SELECT conv_id, count(*) AS k FROM transcripts GROUP BY conv_id)
SELECT count(*) AS n_convs,
       CAST(sum(CASE WHEN k >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_20,
       CAST(sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_50,
       CAST(sum(CASE WHEN k >= 70 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_70
FROM sizes
""",
        "fulfilled_customers": """
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
)
""",
        "customers_without_orders": """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey NOT IN (
  SELECT o_custkey FROM orders
  WHERE o_orderdate < TIMESTAMP '1995-06-01' AND o_custkey IS NOT NULL
)
""",
        "priority_share": """
WITH per AS (
  SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY o_orderpriority
),
tot AS (SELECT count(*) AS t FROM orders)
SELECT o_orderpriority, n,
       CAST((n * 1000000) // t AS BIGINT) AS share_ppm
FROM per, tot
""",
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       count(*) AS count_order,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
        "revenue_topk": """
SELECT o_orderkey,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
        "nation_revenue": """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
        "region_supplier_revenue": """
SELECT r_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
        "brand_volume": """
SELECT p_brand,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       count(*) AS n_items,
       count(DISTINCT p_type) AS n_types
FROM lineitem
JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""",
        "dp_release": """
WITH ranked AS (
  SELECT lang, source,
         row_number() OVER (PARTITION BY source, lang ORDER BY doc_id) AS rn
  FROM documents
),
capped AS (SELECT lang, source FROM ranked WHERE rn <= 8),
gk AS (
  SELECT source, lang FROM (
    SELECT source, lang,
           row_number() OVER (
             PARTITION BY source
             ORDER BY CAST(concat('0x', substr(md5(lang), 1, 15)) AS BIGINT),
                      lang
           ) AS gr
    FROM (SELECT DISTINCT source, lang FROM capped)
  ) t WHERE gr <= 4
),
bcnt AS (
  SELECT c.lang, CAST(count(*) AS DOUBLE) AS n
  FROM capped c JOIN gk USING (source, lang)
  GROUP BY c.lang
),
dom AS (SELECT DISTINCT lang FROM documents),
withu AS (
  SELECT dom.lang,
         COALESCE(bcnt.n, 0.0) AS n,
         (CAST(concat('0x', substr(md5(concat('dp-docs-v1', ':', dom.lang)),
                                   1, 15)) AS BIGINT)
          + 0.5) / 1152921504606846976.0 AS u
  FROM dom LEFT JOIN bcnt USING (lang)
)
SELECT lang,
       n + (-32.0 * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)))
         AS released_count
FROM withu
""",
        "join_view": """
SELECT o_orderkey AS orderkey,
       l_linenumber,
       o_orderpriority,
       l_extendedprice * (1 - l_discount) AS revenue
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderpriority = '1-URGENT'
""",
        "cumulative_spend": """
SELECT o_custkey,
       o_orderkey,
       epoch_us(o_orderdate) AS order_us,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS spend_to_date
FROM orders
""",
        "volume_shipping": """
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS volume
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
""",
        "market_share": """
WITH j AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
         CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS rev,
         n1.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  WHERE p_type = 'PROMO'
    AND o_custkey IN (
      SELECT c_custkey FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA')
)
SELECT order_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END) AS DOUBLE) AS nation_volume,
       CAST(sum(rev) AS DOUBLE) AS total_volume,
       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END) AS DOUBLE)
         / CAST(sum(rev) AS DOUBLE) AS mkt_share
FROM j
GROUP BY order_year
""",
        "product_profit": """
SELECT n_name AS supp_nation,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
""",
        "order_count_distribution": """
WITH per_cust AS (
  SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey
)
SELECT COALESCE(n, 0) AS n_orders, count(*) AS n_customers
FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
GROUP BY 1
""",
        "forecast_revenue": """
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(l_discount AS DECIMAL(18,2))
                     * 10000 AS BIGINT)) AS BIGINT) AS revenue4
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND CAST(round(l_discount * 1000000) AS BIGINT) BETWEEN 50000 AND 70000
  AND l_quantity < 24
""",
        "returned_customers": """
WITH j AS (
  SELECT c_custkey, c_name,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l_discount AS DECIMAL(18,2)))
              * 10000 AS BIGINT) AS rev4
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= '1996-01-01' AND o_orderdate < '1996-07-01'
)
SELECT c_custkey, c_name,
       CAST(sum(rev4) AS BIGINT) AS revenue4,
       CAST(count(*) AS BIGINT) AS n_lines
FROM j GROUP BY 1, 2
ORDER BY revenue4 DESC, c_custkey LIMIT 20
""",
        "promo_revenue_share": """
WITH x AS (
  SELECT date_trunc('month', l_shipdate) AS ship_month,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT) AS rev4,
         p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT epoch_us(ship_month) AS ship_month_us,
       CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev4 ELSE 0 END) * 1000000
            // sum(rev4) AS BIGINT) AS promo_ppm
FROM x
GROUP BY ship_month
""",
        "small_qty_revenue": """
WITH brand_items AS (
  SELECT l_partkey, CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty_c,
         CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS rev
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1')
),
per_part AS (
  SELECT l_partkey, sum(qty_c) AS sum_qty_c, count(*) AS n_items
  FROM brand_items GROUP BY l_partkey
)
SELECT CAST(sum(rev) AS DOUBLE) AS small_qty_revenue,
       count(*) AS n_items_small
FROM brand_items b JOIN per_part p USING (l_partkey)
WHERE b.qty_c * 5 * p.n_items < p.sum_qty_c
""",
        "large_orders": """
WITH big AS (
  SELECT l_orderkey, sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS sum_qty_c
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) > 30000
)
SELECT c_name, c_custkey, o_orderkey,
       epoch_us(o_orderdate) AS order_us,
       CAST(sum_qty_c AS DOUBLE) / 100.0 AS total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
""",
        "disjunctive_revenue": """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20 AND l_quantity BETWEEN 10 AND 40)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40 AND l_quantity BETWEEN 20 AND 50)
""",
        "idle_rich_customers": """
WITH t AS (
  SELECT sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS sum_bal_c,
         count(*) AS n_pos
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey,
       count(*) AS n_customers,
       CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_bal_cents
FROM customer, t
WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) * t.n_pos > t.sum_bal_c
  AND c_custkey NOT IN (
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY c_nationkey
""",
        "top_supplier_per_nation": """
WITH per_supp AS (
  SELECT l_suppkey,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT)) AS rev4
  FROM lineitem GROUP BY l_suppkey
),
ranked AS (
  SELECT n_name, s_suppkey, s_name, rev4,
         row_number() OVER (PARTITION BY n_name ORDER BY rev4 DESC, s_suppkey) AS rk
  FROM per_supp
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
)
SELECT n_name, s_suppkey, s_name, CAST(rev4 AS DOUBLE) / 10000.0 AS total_revenue
FROM ranked WHERE rk = 1
""",
        "late_shipment_priority": """
SELECT o_orderpriority, count(*) AS n_late_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
""",
        "asof_attribution": """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts, max(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
)
SELECT p.purchase_id,
       p.user_id,
       epoch_us(p.ts) AS purchase_us,
       c.click_id,
       epoch_us(c.ts) AS click_us,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
        "range_join_counts": """
WITH cl AS (
  SELECT event_id AS click_id, user_id, ts
  FROM events WHERE event_type = 'click'
),
v AS (
  SELECT user_id, ts,
         CAST(round(value * 1e6, 0) AS BIGINT) AS value_micro
  FROM events WHERE event_type = 'view'
),
agg AS (
  SELECT cl.click_id,
         count(*) AS n_views,
         CAST(sum(v.value_micro) AS BIGINT) AS view_value_micros
  FROM cl JOIN v
    ON cl.user_id = v.user_id
   AND v.ts > cl.ts
   AND v.ts <= cl.ts + INTERVAL 2 DAY
  GROUP BY 1
)
SELECT cl.click_id,
       cl.user_id,
       epoch_us(cl.ts) AS click_us,
       COALESCE(agg.n_views, 0) AS n_views,
       COALESCE(agg.view_value_micros, 0) AS view_value_micros
FROM cl LEFT JOIN agg USING (click_id)
""",
        "scd2_history": """
WITH d AS (
  SELECT DISTINCT user_id, ts, event_id, event_type,
         (event_type = 'error') AS is_del
  FROM events
),
m AS (
  -- any sentinel no live attr value can equal works; only equality
  -- PATTERNS must match the engine, not the sentinel bytes
  SELECT *,
         CASE WHEN is_del THEN '<deleted>' ELSE event_type END AS ak,
         lag(CASE WHEN is_del THEN '<deleted>' ELSE event_type END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pak
  FROM d
),
s AS (SELECT * FROM m WHERE pak IS NULL OR ak <> pak),
v AS (
  SELECT *,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nts
  FROM s
)
SELECT user_id,
       event_type,
       epoch_us(ts) AS valid_from_us,
       epoch_us(nts) AS valid_to_us,
       (nts IS NULL) AS is_current
FROM v WHERE NOT is_del
""",
        "role_day_pivot": f"""
WITH {_TX}
SELECT epoch_us(ts) // {DAY_US} AS day_idx,
       count(*) FILTER (WHERE role = 'user') AS n_user,
       count(*) FILTER (WHERE role = 'assistant') AS n_assistant,
       count(*) FILTER (WHERE role = 'tool') AS n_tool
FROM transcripts
GROUP BY 1
""",
        "cube_role_tool": f"""
WITH {_TX}
SELECT coalesce(role, '<all>') AS role_g,
       coalesce(tool, '<all>') AS tool_g,
       CAST(GROUPING(role) AS BIGINT) AS g_role,
       CAST(GROUPING(tool) AS BIGINT) AS g_tool,
       count(*) AS n,
       count(DISTINCT conv_id) AS n_convs
FROM transcripts
GROUP BY CUBE (role, tool)
""",
        "grouping_sets": f"""
WITH {_TX}
SELECT coalesce(role, '<all>') AS role_g,
       coalesce(tool, '<all>') AS tool_g,
       CAST(GROUPING(role) AS BIGINT) AS g_role,
       CAST(GROUPING(tool) AS BIGINT) AS g_tool,
       count(*) AS n
FROM transcripts
GROUP BY GROUPING SETS ((role), (tool), ())
""",
        "table_profile": """
WITH o AS (
  SELECT *, CAST(round(o_totalprice * 100) AS BIGINT) AS o_price_cents
  FROM orders
)
SELECT 'o_orderkey' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(min(o_orderkey) AS STRING) AS min_val,
       CAST(max(o_orderkey) AS STRING) AS max_val
FROM o
UNION ALL
SELECT 'o_custkey' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(o_custkey) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
       CAST(min(o_custkey) AS STRING) AS min_val,
       CAST(max(o_custkey) AS STRING) AS max_val
FROM o
UNION ALL
SELECT 'o_orderstatus' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(o_orderstatus) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
       CAST(min(o_orderstatus) AS STRING) AS min_val,
       CAST(max(o_orderstatus) AS STRING) AS max_val
FROM o
UNION ALL
SELECT 'o_price_cents' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(o_price_cents) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT o_price_cents) AS BIGINT) AS n_distinct,
       CAST(min(o_price_cents) AS STRING) AS min_val,
       CAST(max(o_price_cents) AS STRING) AS max_val
FROM o
UNION ALL
SELECT 'o_orderdate' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(o_orderdate) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT o_orderdate) AS BIGINT) AS n_distinct,
       CAST(min(o_orderdate) AS STRING) AS min_val,
       CAST(max(o_orderdate) AS STRING) AS max_val
FROM o
UNION ALL
SELECT 'o_orderpriority' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(o_orderpriority) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_distinct,
       CAST(min(o_orderpriority) AS STRING) AS min_val,
       CAST(max(o_orderpriority) AS STRING) AS max_val
FROM o
""",
        "dq_constraints": """
WITH m AS (
  SELECT count(*) AS total,
         count(o_custkey) AS c_cust,
         count(DISTINCT o_orderkey) AS d_key,
         sum(CASE WHEN o_totalprice >= 0.0 AND o_totalprice <= 600000.0
                  THEN 1 ELSE 0 END) AS in_bounds,
         sum(CASE WHEN o_orderstatus IN ('O', 'F', 'P')
                  THEN 1 ELSE 0 END) AS in_set,
         sum(CASE WHEN o_totalprice >= 0 THEN 1 ELSE 0 END) AS nonneg
  FROM orders
),
r AS (
  SELECT 'completeness(o_custkey)' AS "constraint", 'o_custkey' AS "column",
         round(c_cust / total, 9) AS metric, CAST(1.0 AS DOUBLE) AS threshold
  FROM m
  UNION ALL
  SELECT 'unique(o_orderkey)', 'o_orderkey',
         round(d_key / total, 9), 1.0 FROM m
  UNION ALL
  SELECT 'bounds(o_totalprice)', 'o_totalprice',
         round(in_bounds / total, 9), 1.0 FROM m
  UNION ALL
  SELECT 'membership(o_orderstatus)', 'o_orderstatus',
         round(in_set / total, 9), 1.0 FROM m
  UNION ALL
  SELECT 'non_negative(o_totalprice)', 'o_totalprice',
         round(nonneg / total, 9), 1.0 FROM m
)
SELECT "constraint", "column", metric, threshold,
       metric >= threshold AS passed
FROM r
""",
        "zorder_layout": f"""
WITH base AS (
  SELECT CAST(l_partkey AS BIGINT) AS a, CAST(l_suppkey AS BIGINT) AS b
  FROM lineitem
),
bd AS (
  SELECT min(a) AS lo_a, max(a) AS hi_a, min(b) AS lo_b, max(b) AS hi_b
  FROM base
),
lat AS (
  SELECT a, b, lo_a, hi_a, lo_b, hi_b,
    greatest(least(CAST(floor((CAST(a AS DOUBLE) - CAST(lo_a AS DOUBLE))
      / (CAST(hi_a AS DOUBLE) - CAST(lo_a AS DOUBLE)) * 65535.0) AS BIGINT),
      65535), 0) AS x,
    greatest(least(CAST(floor((CAST(b AS DOUBLE) - CAST(lo_b AS DOUBLE))
      / (CAST(hi_b AS DOUBLE) - CAST(lo_b AS DOUBLE)) * 65535.0) AS BIGINT),
      65535), 0) AS y
  FROM base, bd
),
assigned AS (
  SELECT a, b, lo_a, hi_a, lo_b, hi_b,
         ({_MORTON_SQL}) >> 26 AS zfile,
         ((a - lo_a) * 64) // (hi_a - lo_a + 1) AS sfile
  FROM lat
),
zf AS (
  SELECT zfile, min(a) fa_lo, max(a) fa_hi, min(b) fb_lo, max(b) fb_hi,
         any_value(hi_a - lo_a) dom_a, any_value(hi_b - lo_b) dom_b
  FROM assigned GROUP BY zfile
),
sf AS (
  SELECT sfile, min(a) fa_lo, max(a) fa_hi, min(b) fb_lo, max(b) fb_hi,
         any_value(hi_a - lo_a) dom_a, any_value(hi_b - lo_b) dom_b
  FROM assigned GROUP BY sfile
)
SELECT 'zorder' AS layout, CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(fa_hi - fa_lo) * 1000000 // (count(*) * any_value(dom_a)) AS BIGINT) AS span_a_ppm,
       CAST(sum(fb_hi - fb_lo) * 1000000 // (count(*) * any_value(dom_b)) AS BIGINT) AS span_b_ppm
FROM zf
UNION ALL
SELECT 'sort' AS layout, CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(fa_hi - fa_lo) * 1000000 // (count(*) * any_value(dom_a)) AS BIGINT) AS span_a_ppm,
       CAST(sum(fb_hi - fb_lo) * 1000000 // (count(*) * any_value(dom_b)) AS BIGINT) AS span_b_ppm
FROM sf
""",
        "bloom_prune": """
WITH build AS (
  SELECT DISTINCT CAST(c_custkey AS BIGINT) AS k
  FROM customer WHERE c_nationkey = 1
),
probe AS (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS k FROM orders
),
hpos AS (
  SELECT k,
    CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) AS h1,
    CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) * 2 + 1 AS h2
  FROM build
),
bits AS (
  SELECT DISTINCT (h1 + i * h2) % 256 AS bit
  FROM hpos, (SELECT unnest([0, 1, 2]) AS i)
),
ppos AS (
  SELECT k,
    CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) AS h1,
    CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) * 2 + 1 AS h2
  FROM probe
),
probed AS (
  SELECT p.k,
         min(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) AS passed
  FROM (SELECT DISTINCT k, (h1 + i * h2) % 256 AS bit
        FROM ppos, (SELECT unnest([0, 1, 2]) AS i)) p
  LEFT JOIN bits b ON p.bit = b.bit
  GROUP BY p.k
),
truth AS (
  SELECT p.k, p.passed,
         CASE WHEN m.k IS NOT NULL THEN 1 ELSE 0 END AS is_member
  FROM probed p LEFT JOIN build m ON p.k = m.k
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM build) AS n_build,
       (SELECT CAST(count(*) AS BIGINT) FROM bits) AS bits_set,
       CAST(count(*) AS BIGINT) AS n_probe,
       CAST(sum(is_member) AS BIGINT) AS n_true,
       CAST(sum(passed) AS BIGINT) AS n_pass,
       CAST(sum(CASE WHEN passed = 1 AND is_member = 0 THEN 1 ELSE 0 END) AS BIGINT) AS false_pos,
       CAST(sum(CASE WHEN passed = 1 AND is_member = 0 THEN 1 ELSE 0 END) * 1000000
            // (count(*) - sum(is_member)) AS BIGINT) AS fp_ppm
FROM truth
""",
        "mix_allocation": f"""
WITH toks AS (
  SELECT lang AS bin,
         CAST(CASE WHEN {_NORM} = '' THEN 0
              ELSE length({_NORM}) - length(replace({_NORM}, ' ', '')) + 1
              END AS BIGINT) AS n_toks
  FROM documents
),
bins AS (SELECT bin, sum(n_toks) AS avail FROM toks GROUP BY bin),
tot AS (SELECT sum(avail) AS total FROM bins),
staged AS (
  SELECT bin, avail, (total * 2) // 5 AS budget,
         row_number() OVER (ORDER BY avail, bin) AS i,
         count(*) OVER () AS kbins,
         coalesce(sum(avail) OVER (ORDER BY avail, bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
  FROM bins, tot
),
cand AS (
  SELECT *, (budget - pfx) // (kbins - i + 1) AS cand,
         ((budget - pfx) // (kbins - i + 1)) < avail AS is_capped
  FROM staged
),
piv AS (
  SELECT *, min(CASE WHEN is_capped THEN i END) OVER () AS pvt
  FROM cand
),
lvl AS (
  SELECT *,
    max(CASE WHEN i = pvt THEN cand END) OVER () AS level,
    max(CASE WHEN i = pvt THEN (budget - pfx) % (kbins - i + 1) END) OVER () AS rem
  FROM piv
)
SELECT bin, CAST(avail AS BIGINT) AS avail_tokens,
       CAST(CASE WHEN pvt IS NULL OR i < pvt THEN avail
            ELSE level + CASE WHEN i - pvt < rem THEN 1 ELSE 0 END
            END AS BIGINT) AS alloc_tokens
FROM lvl
""",
        "tool_pmi": f"""
WITH {_TX},
ct AS (
  SELECT DISTINCT conv_id, tool FROM transcripts WHERE tool IS NOT NULL
),
n AS (SELECT count(DISTINCT conv_id) AS n_convs FROM ct),
cx AS (SELECT tool, CAST(count(*) AS BIGINT) AS c FROM ct GROUP BY tool),
p AS (
  SELECT x.tool AS tool_a, y.tool AS tool_b,
         CAST(count(*) AS BIGINT) AS c_xy
  FROM ct x JOIN ct y ON x.conv_id = y.conv_id AND x.tool < y.tool
  GROUP BY 1, 2
)
SELECT tool_a, tool_b, c_xy,
       CAST(round(ln(CAST(c_xy * n_convs AS DOUBLE)
                     / CAST(ca.c * cb.c AS DOUBLE)) * 1000000000.0) AS BIGINT)
         AS pmi_nano
FROM p
JOIN cx ca ON ca.tool = p.tool_a
JOIN cx cb ON cb.tool = p.tool_b
CROSS JOIN n
""",
        "mixture_sample": """
WITH c AS (
  SELECT source, count(*) AS n_s,
         CAST(CASE source WHEN 'src0' THEN 8 WHEN 'src1' THEN 4
                          WHEN 'src2' THEN 2 WHEN 'src3' THEN 2 END
              AS BIGINT) AS w_s
  FROM documents
  WHERE source IN ('src0', 'src1', 'src2', 'src3')
  GROUP BY source
),
t AS (SELECT min(CAST(floor(n_s / w_s) AS BIGINT)) AS m FROM c),
q AS (SELECT source, w_s * m AS k_s FROM c, t),
r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS INT) AS mix_rank
  FROM documents
)
SELECT r.doc_id, r.source, r.mix_rank
FROM r JOIN q USING (source)
WHERE mix_rank <= k_s
""",
        "winsorize_values": """
WITH v AS (
  SELECT event_type, event_id,
         CAST(round(value * 100) AS BIGINT) AS v_cents
  FROM events
),
r AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY event_type ORDER BY v_cents, event_id
         ) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v
),
b AS (
  SELECT event_type,
         CAST(max(CASE WHEN rk = greatest(1, (10000 * n + 999999)
                                             // 1000000)
                       THEN v_cents END) AS BIGINT) AS lo_bound,
         CAST(max(CASE WHEN rk = greatest(1, (990000 * n + 999999)
                                             // 1000000)
                       THEN v_cents END) AS BIGINT) AS hi_bound
  FROM r GROUP BY 1
)
SELECT v.event_type, v.event_id, v.v_cents, b.lo_bound, b.hi_bound,
       least(greatest(v.v_cents, b.lo_bound), b.hi_bound) AS v_cents_winsor
FROM v JOIN b USING (event_type)
""",
        "anomaly_zscore": """
WITH ev AS (
  SELECT event_id, event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
st AS (
  SELECT event_type, count(*) AS n, sum(cents) AS s1,
         CAST(sum(cents * cents) AS BIGINT) AS s2
  FROM ev GROUP BY event_type
),
st2 AS (
  SELECT event_type, s1 / n AS mu,
         sqrt((s2 - s1 * (s1 / n)) / (n - 1)) AS sigma
  FROM st
)
SELECT event_id, ev.event_type, cents,
       round((cents - mu) / sigma, 4) AS z
FROM ev JOIN st2 USING (event_type)
WHERE abs(round((cents - mu) / sigma, 4)) >= 3.0
""",
        "inverted_postings": f"""
WITH n0 AS (SELECT doc_id, {_NORM} AS n FROM documents),
toks AS (SELECT doc_id, unnest(string_split(n, ' ')) AS token FROM n0),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM toks WHERE token <> '' GROUP BY doc_id, token
),
rk AS (
  SELECT doc_id, token, tf,
         row_number() OVER (PARTITION BY token
                            ORDER BY tf DESC, doc_id) AS rk
  FROM tf
)
SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
       coalesce(string_agg(CASE WHEN rk <= 5 THEN CAST(doc_id AS VARCHAR) END,
                           '|' ORDER BY rk), '') AS postings
FROM rk GROUP BY token HAVING count(*) >= 2
""",
        "bm25_topk": f"""
WITH n0 AS (SELECT doc_id, {_NORM} AS n FROM documents),
toks AS (SELECT doc_id, unnest(string_split(n, ' ')) AS token FROM n0),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM toks WHERE token <> '' GROUP BY doc_id, token
),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) / count(*) AS avgdl
  FROM dl
),
hits AS (
  SELECT tf.doc_id, tf.token, tf.tf, dl.dl
  FROM tf JOIN dl USING (doc_id)
  WHERE token IN ('spark', 'join', 'window')
),
dfq AS (SELECT token, count(*) AS df FROM hits GROUP BY token),
sc AS (
  SELECT doc_id,
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * (1.2 + 1.0))
           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS w
  FROM hits JOIN dfq USING (token) CROSS JOIN stats
),
tot AS (
  SELECT doc_id, round(sum(w), 6) AS score, count(*) AS n_terms_hit
  FROM sc GROUP BY doc_id
)
SELECT doc_id, score, n_terms_hit
FROM tot ORDER BY score DESC, doc_id LIMIT 10
""",
        "sla_breaches": f"""
WITH {_TX},
b AS (
  SELECT conv_id, CAST(turn_idx AS BIGINT) AS tid, role,
         epoch_us(ts) AS eu
  FROM transcripts
),
n AS (
  SELECT *,
         min(CASE WHEN role = 'assistant' THEN eu END) OVER (
           PARTITION BY conv_id ORDER BY eu DESC, tid DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS next_reply_us
  FROM b
)
SELECT conv_id, tid, eu AS ts_us,
       eu + 3600000000 AS deadline_us,
       CASE WHEN next_reply_us <= eu + 3600000000
            THEN next_reply_us END AS next_reply_us,
       (next_reply_us IS NULL OR next_reply_us > eu + 3600000000)
         AS breached
FROM n WHERE role = 'user'
""",
        "conversion_lag": """
WITH s AS (
  SELECT user_id, min(epoch_us(ts)) AS s_eu
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
p AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS p_eu, min(s.s_eu) AS s_eu
  FROM events e JOIN s ON s.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.s_eu
  GROUP BY 1
),
lags AS (SELECT (p_eu - s_eu) // 1000000 AS lag_s FROM p),
hist AS (SELECT lag_s, CAST(count(*) AS BIGINT) AS c FROM lags GROUP BY 1),
cum AS (
  SELECT lag_s, CAST(sum(c) OVER (
           ORDER BY lag_s RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cm
  FROM hist
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_users FROM hist)
SELECT n_users,
       CAST(min(CASE WHEN cm >= (500000 * n_users + 999999) // 1000000
                     THEN lag_s END) AS BIGINT) AS p50_lag_s,
       CAST(min(CASE WHEN cm >= (900000 * n_users + 999999) // 1000000
                     THEN lag_s END) AS BIGINT) AS p90_lag_s
FROM cum CROSS JOIN tot
GROUP BY n_users
""",
        "cuped_readout": """
WITH u AS (
  SELECT user_id,
         CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                       THEN CAST(round(value * 100) AS BIGINT) END), 0)
           AS BIGINT) AS x,
         CAST(coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                       THEN CAST(round(value * 100) AS BIGINT) END), 0)
           AS BIGINT) AS y,
         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant
  FROM events GROUP BY user_id
),
per AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
  FROM u GROUP BY 1
),
pooled AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM u
),
one AS (
  SELECT min(variant) AS variant_a, max(variant) AS variant_b,
         CAST(max(CASE WHEN variant = (SELECT min(variant) FROM per)
                       THEN n END) AS BIGINT) AS n_a,
         CAST(max(CASE WHEN variant = (SELECT min(variant) FROM per)
                       THEN sx END) AS BIGINT) AS sx_a,
         CAST(max(CASE WHEN variant = (SELECT min(variant) FROM per)
                       THEN sy END) AS BIGINT) AS sy_a,
         CAST(max(CASE WHEN variant = (SELECT max(variant) FROM per)
                       THEN n END) AS BIGINT) AS n_b,
         CAST(max(CASE WHEN variant = (SELECT max(variant) FROM per)
                       THEN sx END) AS BIGINT) AS sx_b,
         CAST(max(CASE WHEN variant = (SELECT max(variant) FROM per)
                       THEN sy END) AS BIGINT) AS sy_b
  FROM per
),
c AS (
  SELECT one.*, pooled.n, pooled.sx, pooled.sy,
         CAST(pooled.n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(pooled.sx AS DOUBLE) * CAST(pooled.sy AS DOUBLE) AS cov2,
         CAST(pooled.n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(pooled.sx AS DOUBLE) * CAST(pooled.sx AS DOUBLE) AS vx2,
         CAST(pooled.n AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(pooled.sy AS DOUBLE) * CAST(pooled.sy AS DOUBLE) AS vy2
  FROM one CROSS JOIN pooled
),
d AS (
  SELECT *,
         cov2 / vx2 AS theta,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x,
         CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
           - (cov2 / vx2) * (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                             - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS ma,
         CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
           - (cov2 / vx2) * (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                             - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS mb
  FROM c
)
SELECT variant_a, variant_b, n_a, n_b,
       round(theta, 6) AS theta,
       round(ma, 6) AS mean_adj_a,
       round(mb, 6) AS mean_adj_b,
       round(ma - mb, 6) AS adj_diff,
       round((cov2 * cov2) / (vx2 * vy2), 6) AS rho2
FROM d
""",
        "psi_drift": """
WITH v AS (
  SELECT event_type AS g,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events WHERE event_type IN ('click', 'view')
),
per AS (
  SELECT g, vc - vc % 100 AS b, CAST(count(*) AS BIGINT) AS c
  FROM v GROUP BY 1, 2
),
byb AS (
  SELECT b,
         CAST(sum(CASE WHEN g = 'click' THEN c ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN g = 'view' THEN c ELSE 0 END) AS BIGINT) AS cb
  FROM per GROUP BY 1
),
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
         CAST(count(*) AS BIGINT) AS n_bins
  FROM byb
),
terms AS (
  SELECT CAST(round(
           (CAST(ca + 1 AS DOUBLE) / CAST(n_a + n_bins AS DOUBLE)
            - CAST(cb + 1 AS DOUBLE) / CAST(n_b + n_bins AS DOUBLE))
           * ln((CAST(ca + 1 AS DOUBLE) / CAST(n_a + n_bins AS DOUBLE))
                / (CAST(cb + 1 AS DOUBLE) / CAST(n_b + n_bins AS DOUBLE)))
           * 1e9) AS BIGINT) AS t_nano
  FROM byb CROSS JOIN tot
)
SELECT 'click' AS group_a, 'view' AS group_b, CAST(2 AS BIGINT) AS n_groups,
       n_a, n_b, n_bins,
       round(CAST(sum(t_nano) AS BIGINT) / 1e9, 6) AS psi
FROM terms CROSS JOIN tot
GROUP BY n_a, n_b, n_bins
""",
        "ks_drift": """
WITH v AS (
  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
  FROM events WHERE event_type IN ('click', 'view')
),
per AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1, 2),
byv AS (
  SELECT v,
         CAST(sum(CASE WHEN g = 'click' THEN c ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN g = 'view' THEN c ELSE 0 END) AS BIGINT) AS cb
  FROM per GROUP BY 1
),
cum AS (
  SELECT v,
         CAST(sum(ca) OVER (
           ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cra,
         CAST(sum(cb) OVER (
           ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS crb
  FROM byv
),
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
  FROM byv
),
d AS (
  SELECT CAST(max(abs(cra * n_b - crb * n_a)) AS BIGINT) AS d_num
  FROM cum CROSS JOIN tot
)
SELECT 'click' AS group_a, 'view' AS group_b, CAST(2 AS BIGINT) AS n_groups,
       n_a, n_b, d_num, round(d_num / (n_a * n_b), 6) AS d
FROM d CROSS JOIN tot
""",
        "ab_test_z": """
WITH u AS (
  SELECT user_id,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS BIGINT) AS converted,
         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant
  FROM events GROUP BY user_id
),
per AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(converted) AS BIGINT) AS x
  FROM u GROUP BY 1
),
one AS (
  SELECT min(variant) AS variant_a, max(variant) AS variant_b,
         CAST(count(*) AS BIGINT) AS n_variants,
         CAST(max(CASE WHEN variant = (SELECT min(variant) FROM per)
                       THEN n END) AS BIGINT) AS n_a,
         CAST(max(CASE WHEN variant = (SELECT min(variant) FROM per)
                       THEN x END) AS BIGINT) AS x_a,
         CAST(max(CASE WHEN variant = (SELECT max(variant) FROM per)
                       THEN n END) AS BIGINT) AS n_b,
         CAST(max(CASE WHEN variant = (SELECT max(variant) FROM per)
                       THEN x END) AS BIGINT) AS x_b
  FROM per
),
z AS (
  SELECT *,
         (CAST(x_a AS DOUBLE) + CAST(x_b AS DOUBLE))
           / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pool
  FROM one
)
SELECT variant_a, variant_b, n_variants, n_a, x_a, n_b, x_b,
       round((CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / sqrt(pool * (1.0 - pool)
                    * (1.0 / CAST(n_a AS DOUBLE)
                       + 1.0 / CAST(n_b AS DOUBLE))), 6) AS z
FROM z
""",
        "mad_outliers": """
WITH v AS (
  SELECT event_type, event_id,
         CAST(round(value * 100) AS BIGINT) AS v_cents
  FROM events
),
r1 AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY event_type ORDER BY v_cents, event_id
         ) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v
),
med AS (
  SELECT event_type,
         CAST(max(CASE WHEN rk = (n + 1) // 2 THEN v_cents END)
           AS BIGINT) AS median
  FROM r1 GROUP BY 1
),
dev AS (
  SELECT v.event_type, v.event_id, v.v_cents, m.median,
         abs(v.v_cents - m.median) AS adev
  FROM v JOIN med m USING (event_type)
),
r2 AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY event_type ORDER BY adev, event_id
         ) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (
  SELECT event_type,
         CAST(max(CASE WHEN rk = (n + 1) // 2 THEN adev END)
           AS BIGINT) AS mad
  FROM r2 GROUP BY 1
)
SELECT d.event_type, d.event_id, d.v_cents, d.median, md.mad,
       (d.adev * 1000000 > 3000000 * md.mad) AS is_outlier
FROM dev d JOIN mad md USING (event_type)
""",
        "price_regression": """
WITH v AS (
  SELECT p.p_brand,
         CAST(l_quantity AS BIGINT) AS x1,
         CAST(round(l_discount * 1000000) AS BIGINT) AS x2,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
m AS (
  SELECT p_brand,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1) AS BIGINT) AS s1,
         CAST(sum(x2) AS BIGINT) AS s2,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x1 * x1) AS BIGINT) AS s11,
         CAST(sum(x2 * x2) AS BIGINT) AS s22,
         CAST(sum(x1 * x2) AS BIGINT) AS s12,
         CAST(sum(x1 * y) AS BIGINT) AS s1y,
         CAST(sum(x2 * y) AS BIGINT) AS s2y
  FROM v GROUP BY 1
),
d AS (
  SELECT p_brand, n,
         CAST(n AS DOUBLE) AS dn, CAST(s1 AS DOUBLE) AS d1,
         CAST(s2 AS DOUBLE) AS d2, CAST(sy AS DOUBLE) AS dy,
         CAST(s11 AS DOUBLE) AS d11, CAST(s22 AS DOUBLE) AS d22,
         CAST(s12 AS DOUBLE) AS d12, CAST(s1y AS DOUBLE) AS d1y,
         CAST(s2y AS DOUBLE) AS d2y
  FROM m
),
c AS (
  SELECT p_brand, n,
         dn * (d11 * d22 - d12 * d12)
           - d1 * (d1 * d22 - d12 * d2)
           + d2 * (d1 * d12 - d11 * d2) AS det,
         dy * (d11 * d22 - d12 * d12)
           - d1 * (d1y * d22 - d12 * d2y)
           + d2 * (d1y * d12 - d11 * d2y) AS det0,
         dn * (d1y * d22 - d12 * d2y)
           - dy * (d1 * d22 - d12 * d2)
           + d2 * (d1 * d2y - d1y * d2) AS det1,
         dn * (d11 * d2y - d1y * d12)
           - d1 * (d1 * d2y - d1y * d2)
           + dy * (d1 * d12 - d11 * d2) AS det2
  FROM d
)
SELECT p_brand, n,
       round(det0 / det, 6) AS b0,
       round(det1 / det, 6) AS b1,
       round(det2 / det, 6) AS b2
FROM c ORDER BY p_brand
""",
        "conv_survival": f"""
WITH {_TX},
sizes AS (SELECT conv_id, count(*) AS len FROM transcripts GROUP BY 1),
hist AS (
  SELECT CAST(len AS BIGINT) AS n_turns, CAST(count(*) AS BIGINT) AS cnt
  FROM sizes GROUP BY 1
),
cum AS (
  SELECT n_turns, cnt,
         CAST(sum(cnt) OVER (
           ORDER BY n_turns DESC
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS n_reaching
  FROM hist
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM hist)
SELECT n_turns, n_reaching,
       (n_reaching * 1000000) // total AS survival_ppm
FROM cum CROSS JOIN tot
""",
        "lang_agreement": f"""
WITH pred AS ({_lang_sql()}),
j AS (
  SELECT d.lang AS a, p.pred_lang AS b
  FROM documents d JOIN pred p USING (doc_id)
),
conf AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM j GROUP BY 1, 2),
r AS (SELECT a, CAST(sum(c) AS BIGINT) AS ra FROM conf GROUP BY 1),
cl AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM conf GROUP BY 1),
pe AS (
  SELECT CAST(coalesce(sum(ra * cb), 0) AS BIGINT) AS pe_num
  FROM r JOIN cl ON cl.b = r.a
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS po_num
  FROM conf
)
SELECT n, po_num, pe_num,
       round((n * po_num - pe_num) / (n * n - pe_num), 6) AS kappa
FROM tot CROSS JOIN pe
""",
        "conv_size_gini": f"""
WITH {_TX},
sizes AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS v
          FROM transcripts GROUP BY 1),
hist AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM sizes GROUP BY 1),
cum AS (SELECT v, cnt, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS c
        FROM hist),
agg AS (
  SELECT CAST(sum(v * cnt * (2 * (c - cnt) + cnt + 1)) AS BIGINT) AS t2,
         CAST(sum(v * cnt) AS BIGINT) AS s,
         CAST(sum(cnt) AS BIGINT) AS n
  FROM cum
)
SELECT n, s, round((t2 - (n + 1) * s) / (n * s), 6) AS gini FROM agg
""",
        "readability": f"""
WITH n0 AS (SELECT doc_id, text, {_NORM} AS n FROM documents),
c AS (
  SELECT doc_id,
         CAST(CASE WHEN n = '' THEN 0
                   ELSE len(string_split(n, ' ')) END AS BIGINT) AS n_words,
         greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
                  1) AS n_sentences,
         CAST(list_sum(list_transform(string_split(n, ' '),
              w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)))
           AS BIGINT) AS n_syllables
  FROM n0
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       round(206.835 - 1.015 * (n_words / n_sentences)
                     - 84.6 * (n_syllables / n_words), 4) AS fre
FROM c WHERE n_words >= 1
""",
        "hybrid_search": f"""
WITH n0 AS (SELECT doc_id, {_NORM} AS n FROM documents),
toks AS (SELECT doc_id, unnest(string_split(n, ' ')) AS token FROM n0),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM toks WHERE token <> '' GROUP BY doc_id, token
),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) / count(*) AS avgdl
  FROM dl
),
hits AS (
  SELECT tf.doc_id, tf.token, tf.tf, dl.dl
  FROM tf JOIN dl USING (doc_id)
  WHERE token IN ('spark', 'join', 'window')
),
dfq AS (SELECT token, count(*) AS df FROM hits GROUP BY token),
sc AS (
  SELECT doc_id,
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * (1.2 + 1.0))
           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS w
  FROM hits JOIN dfq USING (token) CROSS JOIN stats
),
lex AS (
  SELECT doc_id, round(sum(w), 6) AS score
  FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20
),
lexr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM lex
),
{_EMB_D},
q AS (SELECT * FROM d WHERE vec_id = 0),
s AS (
  SELECT c.vec_id AS doc_id,
         round({_cos_sql('q', 'c')}, 6) AS cosine
  FROM q JOIN d c ON c.vec_id <> q.vec_id
),
denser AS (
  SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank
  FROM s QUALIFY rank <= 20
),
pts AS (
  SELECT doc_id, 1000000000000 // (60 + rank) AS pts FROM lexr
  UNION ALL
  SELECT doc_id, 1000000000000 // (60 + rank) AS pts FROM denser
),
fused AS (
  SELECT doc_id, CAST(sum(pts) AS BIGINT) AS rrf_score,
         count(*) AS n_lists
  FROM pts GROUP BY doc_id
)
SELECT doc_id, rrf_score, n_lists
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
""",
        "json_props_rollup": """
SELECT event_type,
       count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
""",
        "ts_resample_fill": """
WITH b AS (
  SELECT event_type,
         (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us,
         count(*) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
  FROM events GROUP BY 1, 2
),
spans AS (
  SELECT event_type, min(bucket_us) AS mn, max(bucket_us) AS mx
  FROM b GROUP BY 1
),
grid AS (
  SELECT event_type,
         unnest(generate_series(mn, mx, 3600000000)) AS bucket_us
  FROM spans
),
j AS (
  SELECT g.event_type, g.bucket_us,
         coalesce(b.n, 0) AS n, b.v_cents AS v_obs
  FROM grid g
  LEFT JOIN b ON b.event_type = g.event_type AND b.bucket_us = g.bucket_us
)
SELECT event_type, bucket_us, n,
       last_value(v_obs IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY bucket_us
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS v_cents,
       v_obs AS v_cents_obs
FROM j
""",
        "cohort_retention": f"""
WITH b AS (
  SELECT user_id AS u,
         (epoch_us(ts) // {7 * DAY_US}) * {7 * DAY_US} AS bucket_us
  FROM events
),
f AS (SELECT u, min(bucket_us) AS cohort_us FROM b GROUP BY u),
act AS (
  SELECT DISTINCT b.u, f.cohort_us,
         (b.bucket_us - f.cohort_us) // {7 * DAY_US} AS bucket_offset
  FROM b JOIN f USING (u)
),
a AS (
  SELECT cohort_us, bucket_offset, count(*) AS active_users
  FROM act GROUP BY 1, 2
),
s AS (SELECT cohort_us, count(*) AS cohort_size FROM f GROUP BY 1)
SELECT a.cohort_us, a.bucket_offset, a.active_users, s.cohort_size,
       (a.active_users * 1000000) // s.cohort_size AS retention_ppm
FROM a JOIN s USING (cohort_us)
""",
        "hist_quantiles": """
WITH v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
),
h AS (
  SELECT event_type, cents // 100 AS bin, count(*) AS c FROM v GROUP BY 1, 2
),
t AS (
  SELECT event_type, CAST(sum(c) AS BIGINT) AS total FROM h GROUP BY 1
),
cum AS (
  SELECT event_type, bin, c,
         CAST(sum(c) OVER (
           PARTITION BY event_type ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum
  FROM h
),
x AS (
  SELECT cum.event_type, cum.bin, cum.c, cum.cum, t.total, p.pct,
         (t.total * p.pct + 99) // 100 AS target
  FROM cum
  JOIN t USING (event_type)
  CROSS JOIN (VALUES (50), (90), (99)) p(pct)
),
hit AS (
  SELECT *, row_number() OVER (
           PARTITION BY event_type, pct ORDER BY bin
         ) AS rn
  FROM x WHERE cum >= target
)
SELECT event_type, pct, total,
       round(bin * 100 + (target - (cum - c)) * 1.0 / c * 100, 6)
         AS est_cents
FROM hit WHERE rn = 1
""",
        "bpe_pairs": """
WITH words AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
  FROM documents
),
wf AS (
  SELECT w, count(*) AS cnt FROM words WHERE length(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT substring(w, i, 2) AS pair, cnt
  FROM wf, unnest(generate_series(1, length(w) - 1)) AS t(i)
)
SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_count
FROM pairs GROUP BY pair
ORDER BY pair_count DESC, pair
LIMIT 50
""",
        "rolling_stats": f"""
WITH daily AS (
  SELECT event_type,
         epoch_us(ts) // {DAY_US} AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS day_cents,
         count(*) AS day_n
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       day * {DAY_US} AS day_us,
       day_cents,
       CAST(sum(day_cents) OVER w AS BIGINT) AS roll_cents,
       CAST(sum(day_n) OVER w AS BIGINT) AS roll_n,
       round(CAST(sum(day_cents) OVER w AS DOUBLE)
             / CAST(sum(day_n) OVER w AS DOUBLE), 6) AS roll_avg_cents
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
        "bigram_lm_scores": """
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     x -> x <> '') AS t
  FROM documents
),
flat AS (
  SELECT t[i] AS w1 FROM d, unnest(generate_series(1, len(t))) s(i)
),
uni AS (SELECT w1, count(*) AS c1 FROM flat GROUP BY w1),
vocab AS (SELECT count(*) AS v FROM uni),
pairs AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM d, unnest(generate_series(1, len(t) - 1)) s(i)
),
big AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2),
sc AS (
  SELECT doc_id,
         CAST(round(ln(CAST(c2 + 1 AS DOUBLE)
                       / CAST(c1 + v AS DOUBLE)) * 1e9) AS BIGINT)
           AS lp_nano
  FROM pairs JOIN big USING (w1, w2) JOIN uni USING (w1) CROSS JOIN vocab
)
SELECT doc_id,
       count(*) AS n_bigrams,
       round((CAST(sum(lp_nano) AS BIGINT) / 1e9) / count(*), 6)
         AS lm_score
FROM sc GROUP BY doc_id
""",
        "sparse_cosine_pairs": f"""
WITH n0 AS (SELECT doc_id, {_NORM} AS n FROM documents),
toks AS (SELECT doc_id, unnest(string_split(n, ' ')) AS token FROM n0),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM toks WHERE token <> '' GROUP BY doc_id, token
),
dfc AS (
  SELECT token FROM (
    SELECT token, count(*) AS c FROM tf GROUP BY token
  ) WHERE c <= 100
),
kept AS (SELECT tf.* FROM tf JOIN dfc USING (token)),
norms AS (
  SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2 FROM kept GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
  FROM kept a JOIN kept b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sc AS (
  SELECT doc_a, doc_b, dot,
         round(dot / sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)), 6) AS cos
  FROM dots
  JOIN norms na ON na.doc_id = dots.doc_a
  JOIN norms nb ON nb.doc_id = dots.doc_b
)
SELECT doc_a, doc_b, dot, cos FROM sc WHERE cos >= 0.30
""",
        "cusum_drift": f"""
WITH RECURSIVE b AS (
  SELECT event_type,
         (epoch_us(ts) // {DAY_US}) * {DAY_US} AS bucket_us,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
o AS (
  SELECT *, row_number() OVER (
           PARTITION BY event_type ORDER BY bucket_us
         ) AS rn
  FROM b
),
c AS (
  SELECT event_type, bucket_us, rn,
         greatest(0, v - 300000 - 10000) AS cusum
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.event_type, o.bucket_us, o.rn,
         greatest(0, c.cusum + (o.v - 300000 - 10000))
  FROM c JOIN o ON o.event_type = c.event_type AND o.rn = c.rn + 1
)
SELECT event_type, bucket_us,
       CAST(cusum AS BIGINT) AS cusum_cents,
       cusum > 150000 AS drift
FROM c
""",
        "trend_lines": f"""
WITH daily AS (
  SELECT event_type,
         epoch_us(ts) // {DAY_US} AS x,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM daily GROUP BY 1
)
SELECT event_type, n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS intercept,
       round((CAST(n * sxy - sx * sy AS DOUBLE)
              * CAST(n * sxy - sx * sy AS DOUBLE))
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
FROM m
""",
        "pagerank_topk": """
WITH rel AS (
  SELECT DISTINCT o_custkey * 2 AS cn, l_suppkey * 2 + 1 AS sn
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT cn AS src, sn AS dst FROM rel
  UNION ALL
  SELECT sn AS src, cn AS dst FROM rel
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS (
  SELECT src AS node, CAST(1000000000 AS BIGINT) AS rank_fp
  FROM edges GROUP BY src
),
r1 AS (
  SELECT e.dst AS node,
         CAST(150000000
              + (85 * CAST(sum(r.rank_fp // d.deg) AS BIGINT)) // 100
           AS BIGINT) AS rank_fp
  FROM edges e
  JOIN deg d ON e.src = d.src
  JOIN r0 r ON e.src = r.node
  GROUP BY e.dst
),
r2 AS (
  SELECT e.dst AS node,
         CAST(150000000
              + (85 * CAST(sum(r.rank_fp // d.deg) AS BIGINT)) // 100
           AS BIGINT) AS rank_fp
  FROM edges e
  JOIN deg d ON e.src = d.src
  JOIN r1 r ON e.src = r.node
  GROUP BY e.dst
),
r3 AS (
  SELECT e.dst AS node,
         CAST(150000000
              + (85 * CAST(sum(r.rank_fp // d.deg) AS BIGINT)) // 100
           AS BIGINT) AS rank_fp
  FROM edges e
  JOIN deg d ON e.src = d.src
  JOIN r2 r ON e.src = r.node
  GROUP BY e.dst
)
SELECT node, rank_fp FROM r3 ORDER BY rank_fp DESC, node LIMIT 25
""",
        "transition_counts": """
WITH t AS (
  SELECT event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev_type
  FROM events
),
p AS (
  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
  FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, event_type, n,
       round(n / CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT), 6)
         AS prob
FROM p
""",
        "ewma_smooth": f"""
WITH RECURSIVE b AS (
  SELECT event_type,
         (epoch_us(ts) // {DAY_US}) * {DAY_US} AS bucket_us,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
o AS (
  SELECT *, row_number() OVER (
           PARTITION BY event_type ORDER BY bucket_us
         ) AS rn
  FROM b
),
c AS (
  SELECT event_type, bucket_us, rn, v, v AS ewma
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.event_type, o.bucket_us, o.rn, o.v, (c.ewma + o.v) // 2
  FROM c JOIN o ON o.event_type = c.event_type AND o.rn = c.rn + 1
)
SELECT event_type, bucket_us,
       CAST(v AS BIGINT) AS v_cents,
       CAST(ewma AS BIGINT) AS ewma_cents
FROM c
""",
        "hits_scores": """
WITH e AS (
  SELECT DISTINCT o_custkey AS src, l_partkey AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
a1r AS (
  SELECT dst AS node, CAST(count(*) AS BIGINT) * 1000000 AS raw
  FROM e GROUP BY 1
),
a1 AS (
  SELECT node, (raw * 1000000) // (SELECT max(raw) FROM a1r) AS s FROM a1r
),
h1r AS (
  SELECT e.src AS node, CAST(sum(a1.s) AS BIGINT) AS raw
  FROM e JOIN a1 ON a1.node = e.dst GROUP BY 1
),
h1 AS (
  SELECT node, (raw * 1000000) // (SELECT max(raw) FROM h1r) AS s FROM h1r
),
a2r AS (
  SELECT e.dst AS node, CAST(sum(h1.s) AS BIGINT) AS raw
  FROM e JOIN h1 ON h1.node = e.src GROUP BY 1
),
a2 AS (
  SELECT node, (raw * 1000000) // (SELECT max(raw) FROM a2r) AS s FROM a2r
),
h2r AS (
  SELECT e.src AS node, CAST(sum(a2.s) AS BIGINT) AS raw
  FROM e JOIN a2 ON a2.node = e.dst GROUP BY 1
),
h2 AS (
  SELECT node, (raw * 1000000) // (SELECT max(raw) FROM h2r) AS s FROM h2r
),
u AS (
  SELECT 'hub' AS side, node, s FROM h2
  UNION ALL
  SELECT 'auth' AS side, node, s FROM a2
),
r AS (
  SELECT side, node, CAST(s AS BIGINT) AS score_fp,
         row_number() OVER (
           PARTITION BY side ORDER BY s DESC, node
         ) AS rk
  FROM u
)
SELECT side, node, score_fp, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 25
""",
        "ohlc_bars": f"""
WITH v AS (
  SELECT event_type,
         (epoch_us(ts) // {DAY_US}) * {DAY_US} AS bucket_us,
         epoch_us(ts) AS eu, event_id,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
r AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY event_type, bucket_us ORDER BY eu, event_id
         ) AS rf,
         row_number() OVER (
           PARTITION BY event_type, bucket_us ORDER BY eu DESC, event_id DESC
         ) AS rb
  FROM v
)
SELECT event_type, bucket_us,
       CAST(max(CASE WHEN rf = 1 THEN vc END) AS BIGINT) AS open_cents,
       CAST(max(vc) AS BIGINT) AS high_cents,
       CAST(min(vc) AS BIGINT) AS low_cents,
       CAST(max(CASE WHEN rb = 1 THEN vc END) AS BIGINT) AS close_cents,
       CAST(count(*) AS BIGINT) AS n
FROM r GROUP BY 1, 2
""",
        "twap_daily": f"""
WITH v AS (
  SELECT event_type,
         (epoch_us(ts) // {DAY_US}) * {DAY_US} AS bucket_us,
         epoch_us(ts) AS eu, event_id,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
w AS (
  SELECT *,
         coalesce(
           lead(eu) OVER (
             PARTITION BY event_type, bucket_us ORDER BY eu, event_id
           ),
           bucket_us + {DAY_US}
         ) - eu AS wt
  FROM v
)
SELECT event_type, bucket_us,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(wt) AS BIGINT) AS span_us,
       round(CAST(sum(vc * wt) AS BIGINT) / CAST(sum(wt) AS BIGINT), 6)
         AS twap_cents
FROM w GROUP BY 1, 2
""",
        "running_balance": f"""
WITH RECURSIVE b AS (
  SELECT event_type,
         (epoch_us(ts) // {DAY_US}) * {DAY_US} AS bucket_us,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           - CAST(count(*) AS BIGINT) * 5000 AS d
  FROM events GROUP BY 1, 2
),
o AS (
  SELECT *, row_number() OVER (
           PARTITION BY event_type ORDER BY bucket_us
         ) AS rn
  FROM b
),
c AS (
  SELECT event_type, bucket_us, rn, d,
         greatest(CAST(0 AS BIGINT), d) AS bal,
         greatest(CAST(0 AS BIGINT), -d) AS lost
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.event_type, o.bucket_us, o.rn, o.d,
         greatest(CAST(0 AS BIGINT), c.bal + o.d),
         c.lost + greatest(CAST(0 AS BIGINT), -(c.bal + o.d))
  FROM c JOIN o ON o.event_type = c.event_type AND o.rn = c.rn + 1
)
SELECT event_type, bucket_us,
       CAST(d AS BIGINT) AS delta,
       CAST(bal AS BIGINT) AS balance,
       CAST(lost AS BIGINT) AS lost
FROM c
""",
        "holt_forecast": f"""
WITH RECURSIVE b AS (
  SELECT event_type,
         (epoch_us(ts) // {DAY_US}) * {DAY_US} AS bucket_us,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
o AS (
  SELECT *, row_number() OVER (
           PARTITION BY event_type ORDER BY bucket_us
         ) AS rn
  FROM b
),
c AS (
  SELECT event_type, bucket_us, rn, v,
         v AS l, CAST(0 AS BIGINT) AS tr
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.event_type, o.bucket_us, o.rn, o.v,
         (c.l + c.tr + o.v) // 2,
         (c.tr + ((c.l + c.tr + o.v) // 2 - c.l)) // 2
  FROM c JOIN o ON o.event_type = c.event_type AND o.rn = c.rn + 1
)
SELECT event_type, bucket_us,
       CAST(v AS BIGINT) AS v_cents,
       CAST(l AS BIGINT) AS level_cents,
       CAST(tr AS BIGINT) AS trend_cents,
       CAST(l + tr AS BIGINT) AS forecast_cents
FROM c
""",
        "weighted_sample": """
WITH s AS (
  SELECT doc_id, n_chars,
         (CAST((doc_id * 2654435761 + 12345) % 2147483647 + 1 AS DOUBLE)
          / 2147483648.0) / CAST(n_chars AS DOUBLE) AS priority
  FROM documents
)
SELECT doc_id, n_chars, priority FROM s ORDER BY priority, doc_id LIMIT 50
""",
        "pareto_parts": """
WITH p AS (
  SELECT p_brand, p_partkey,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
         p_size
  FROM part
)
SELECT p_brand, p_partkey, price_cents, p_size
FROM p q
WHERE NOT EXISTS (
  SELECT 1 FROM p d
  WHERE d.p_brand = q.p_brand AND (
    (d.price_cents <  q.price_cents AND d.p_size >= q.p_size) OR
    (d.price_cents <= q.price_cents AND d.p_size >  q.p_size) OR
    (d.price_cents =  q.price_cents AND d.p_size = q.p_size
       AND d.p_partkey < q.p_partkey)))
""",
        "rank_correlation": """
WITH oc AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
),
j AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
         COALESCE(n_orders, 0) AS n_orders
  FROM customer LEFT JOIN oc ON c_custkey = o_custkey
),
r AS (
  SELECT c_nationkey,
         row_number() OVER (
           PARTITION BY c_nationkey ORDER BY bal_cents DESC, c_custkey
         )
         - row_number() OVER (
           PARTITION BY c_nationkey ORDER BY n_orders DESC, c_custkey
         ) AS d
  FROM j
),
a AS (
  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(d * d) AS BIGINT) AS sd2
  FROM r GROUP BY 1
)
SELECT c_nationkey, n,
       CASE WHEN n < 2 THEN NULL
            ELSE round(1.0 - (6 * sd2) / (n * (n * n - 1)), 6) END AS rho
FROM a
""",
        "butterfly_pairs": """
WITH rel AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
deg AS (SELECT s, count(*) AS d FROM rel GROUP BY s),
r AS (SELECT rel.c, rel.s FROM rel JOIN deg ON rel.s = deg.s WHERE d <= 500),
p AS (
  SELECT a.c AS c1, b.c AS c2, CAST(count(*) AS BIGINT) AS shared
  FROM r a JOIN r b ON a.s = b.s AND a.c < b.c
  GROUP BY 1, 2
)
SELECT c1, c2, shared,
       CAST(shared * (shared - 1) // 2 AS BIGINT) AS butterflies
FROM p ORDER BY shared DESC, c1, c2 LIMIT 20
""",
        "triangle_counts": """
WITH rel AS (
  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
),
e AS (
  SELECT a.s AS x, b.s AS y
  FROM rel a JOIN rel b ON a.o = b.o AND a.s < b.s
  GROUP BY 1, 2
  HAVING count(*) >= 30
),
t AS (
  SELECT e1.x AS a, e1.y AS b, e2.y AS c
  FROM e e1
  JOIN e e2 ON e1.y = e2.x
  JOIN e e3 ON e1.x = e3.x AND e2.y = e3.y
),
corners AS (
  SELECT a AS node FROM t
  UNION ALL SELECT b FROM t
  UNION ALL SELECT c FROM t
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY node ORDER BY node
""",
        "dup_spans": f"""
WITH d AS (SELECT doc_id, {_NORM} AS nm FROM documents),
w AS (SELECT doc_id, string_split(nm, ' ') AS w FROM d),
g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(w[CAST(i AS INT):CAST(i + 3 AS INT)], ' ') AS g
  FROM (SELECT doc_id, w,
               unnest(range(1, greatest(len(w) - 3, 0) + 1)) AS i
        FROM w)
),
c AS (SELECT g, count(*) AS c FROM g GROUP BY g),
dup AS (SELECT doc_id, pos FROM g JOIN c USING (g) WHERE c.c >= 2),
sw AS (
  SELECT doc_id, pos, pos + 3 AS e,
         max(pos + 3) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS pe
  FROM dup
),
cov AS (
  SELECT doc_id, count(*) AS n_dup_grams,
         sum(greatest(0, e - greatest(coalesce(pe, 0), pos - 1))) AS dup_tokens
  FROM sw GROUP BY doc_id
),
base AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(greatest(0, len(w) - 3) AS BIGINT) AS n_grams
  FROM w
)
SELECT b.doc_id, b.n_tokens, b.n_grams,
       CAST(coalesce(cv.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       CAST(coalesce(cv.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(CASE WHEN b.n_tokens = 0 THEN 0
            ELSE coalesce(cv.dup_tokens, 0) * 1000000 // b.n_tokens
            END AS BIGINT) AS dup_ppm
FROM base b LEFT JOIN cov cv USING (doc_id) ORDER BY doc_id
""",
        "kmeans_clusters": f"""
WITH d AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
  FROM embeddings
),
seed AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c, q AS cq
  FROM d ORDER BY vec_id LIMIT 8
),
{_km_assign("0", "seed")},
{_km_update("1", "a0", "seed")},
{_km_assign("1", "c1")},
{_km_update("2", "a1", "c1")},
{_km_assign("2", "c2")}
SELECT vec_id, c AS cluster, dist AS dist_q FROM a2 ORDER BY vec_id
""",
        "semdedup_flags": f"""
WITH {_EMB_D},
p AS (
  SELECT b.vec_id AS v, count(*) AS n
  FROM d a JOIN d b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round({_cos_sql('a', 'b')}, 6) >= 0.35
  GROUP BY b.vec_id
)
SELECT d.vec_id, d.label,
       CAST(coalesce(p.n, 0) AS BIGINT) AS n_lower_dups,
       coalesce(p.n, 0) = 0 AS keep
FROM d LEFT JOIN p ON p.v = d.vec_id ORDER BY vec_id
""",
        "debounce_events": """
WITH RECURSIVE e AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
         row_number() OVER (
           PARTITION BY user_id, event_type
           ORDER BY epoch_us(ts), event_id
         ) AS rn
  FROM events
),
c AS (
  SELECT user_id, event_type, event_id, us, rn,
         true AS kept, us AS last
  FROM e WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.event_type, e.event_id, e.us, e.rn,
         e.us - c.last >= 600000000 AS kept,
         CASE WHEN e.us - c.last >= 600000000 THEN e.us
              ELSE c.last END AS last
  FROM c JOIN e ON e.user_id = c.user_id
              AND e.event_type = c.event_type
              AND e.rn = c.rn + 1
)
SELECT user_id, event_type, event_id, CAST(us AS BIGINT) AS ts_us, kept
FROM c
""",
        "source_entropy": """
WITH d AS (
  SELECT source,
         list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     x -> x <> '') AS t
  FROM documents
),
flat AS (
  SELECT source, t[i] AS w FROM d, unnest(generate_series(1, len(t))) s(i)
),
cnt AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
        FROM flat GROUP BY 1, 2),
a AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS distinct_tokens,
         CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT))
           AS BIGINT) AS s
  FROM cnt GROUP BY 1
)
SELECT source, n_tokens, distinct_tokens,
       round(ln(CAST(n_tokens AS DOUBLE)) - (s / 1e9) / n_tokens, 6)
         AS entropy
FROM a
""",
        "assoc_rules": """
WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item
            FROM lineitem),
n AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS nb FROM it),
isup AS (SELECT item, CAST(count(*) AS BIGINT) AS sup_i
         FROM it GROUP BY item),
p AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(count(*) AS BIGINT) AS support
  FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT item_a, item_b, support,
       sa.sup_i AS sup_a, sb.sup_i AS sup_b,
       round(support / sa.sup_i, 6) AS confidence,
       round((n.nb * support) / (sa.sup_i * sb.sup_i), 6) AS lift
FROM p
JOIN isup sa ON sa.item = item_a
JOIN isup sb ON sb.item = item_b
CROSS JOIN n
ORDER BY support DESC, item_a, item_b LIMIT 20
""",
        "autocorr_daily": """
WITH b AS (
  SELECT event_type,
         (epoch_us(ts) // 86400000000) * 86400000000 AS bucket_us,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
l AS (
  SELECT event_type, v,
         lag(v, 1) OVER w AS x1,
         lag(v, 2) OVER w AS x2,
         lag(v, 3) OVER w AS x3
  FROM b WINDOW w AS (PARTITION BY event_type ORDER BY bucket_us)
),
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) AS sx,
         CAST(sum(v * v) AS BIGINT) AS q,
         CAST(sum(v * x1) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN x1 IS NOT NULL THEN v END) AS BIGINT) AS b1,
         CAST(sum(x1) AS BIGINT) AS a1, CAST(sum(v * x2) AS BIGINT) AS c2,
         CAST(sum(CASE WHEN x2 IS NOT NULL THEN v END) AS BIGINT) AS b2,
         CAST(sum(x2) AS BIGINT) AS a2, CAST(sum(v * x3) AS BIGINT) AS c3,
         CAST(sum(CASE WHEN x3 IS NOT NULL THEN v END) AS BIGINT) AS b3,
         CAST(sum(x3) AS BIGINT) AS a3
  FROM l GROUP BY 1
)
SELECT event_type, CAST(1 AS INT) AS lag, n,
       round((n * n * c1 - n * sx * (a1 + b1) + (n - 1) * sx * sx)
             / (n * (n * q - sx * sx)), 6) AS acf
FROM m WHERE n > 1
UNION ALL
SELECT event_type, CAST(2 AS INT) AS lag, n,
       round((n * n * c2 - n * sx * (a2 + b2) + (n - 2) * sx * sx)
             / (n * (n * q - sx * sx)), 6) AS acf
FROM m WHERE n > 2
UNION ALL
SELECT event_type, CAST(3 AS INT) AS lag, n,
       round((n * n * c3 - n * sx * (a3 + b3) + (n - 3) * sx * sx)
             / (n * (n * q - sx * sx)), 6) AS acf
FROM m WHERE n > 3
""",
        "dow_profile": """
WITH b AS (
  SELECT event_type,
         (epoch_us(ts) // 86400000000) * 86400000000 AS bucket_us,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
p AS (
  SELECT event_type,
         CAST(((bucket_us // 86400000000) + 4) % 7 AS BIGINT) AS dow,
         CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(v) AS BIGINT) AS v_cents
  FROM b GROUP BY 1, 2
)
SELECT event_type, dow, n_buckets, v_cents,
       round(v_cents / n_buckets, 6) AS mean_cents,
       CAST(v_cents * 1000000 // sum(v_cents) OVER (PARTITION BY event_type)
         AS BIGINT) AS share_ppm
FROM p
""",
        "kmv_set_ops": """
WITH a AS (
  SELECT DISTINCT CAST(concat('0x',
           substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events WHERE event_type = 'click'
),
b AS (
  SELECT DISTINCT CAST(concat('0x',
           substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events WHERE event_type = 'view'
),
ka AS (SELECT h FROM a ORDER BY h LIMIT 256),
kb AS (SELECT h FROM b ORDER BY h LIMIT 256),
ku AS (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb)
       ORDER BY h LIMIT 256),
f AS (
  SELECT ku.h,
         CASE WHEN ka.h IS NOT NULL AND kb.h IS NOT NULL
              THEN 1 ELSE 0 END AS in_ab
  FROM ku LEFT JOIN ka ON ku.h = ka.h LEFT JOIN kb ON ku.h = kb.h
),
g AS (
  SELECT max(h) AS kth_hash,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(in_ab) AS BIGINT) AS in_both
  FROM f
)
SELECT kth_hash,
       CAST(n AS INT) AS union_sketch_size,
       CAST(in_both AS INT) AS in_both,
       round(CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
                  ELSE 255.0 * 1152921504606846976.0
                       / CAST(kth_hash AS DOUBLE) END, 3) AS est_union,
       round(in_both / n, 6) AS est_jaccard,
       round((CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
                   ELSE 255.0 * 1152921504606846976.0
                        / CAST(kth_hash AS DOUBLE) END)
             * (in_both / n), 3) AS est_intersection
FROM g
""",
        "kcore": """
WITH rel AS (
  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
),
e0 AS (
  SELECT a.s AS node_a, b.s AS node_b
  FROM rel a JOIN rel b ON a.o = b.o AND a.s < b.s
  GROUP BY 1, 2
  HAVING count(*) >= 30
),
"""
        + ",\n".join(
            f"""d{i} AS (
  SELECT node, count(*) AS deg FROM (
    SELECT node_a AS node FROM e{i - 1}
    UNION ALL SELECT node_b FROM e{i - 1}
  ) GROUP BY node
),
k{i} AS (SELECT node FROM d{i} WHERE deg >= 3),
e{i} AS (
  SELECT node_a, node_b FROM e{i - 1}
  WHERE node_a IN (SELECT node FROM k{i})
    AND node_b IN (SELECT node FROM k{i})
)"""
            for i in range(1, 5)
        )
        + """
SELECT node, CAST(count(*) AS BIGINT) AS deg_in_core FROM (
  SELECT node_a AS node FROM e4 UNION ALL SELECT node_b FROM e4
) GROUP BY node ORDER BY node
""",
        "min_cost_supplier": """
WITH eu AS (
  SELECT s_suppkey, s_name FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
pc AS (
  SELECT l_partkey AS p_partkey, s_name,
         min(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cost_c
  FROM lineitem JOIN eu ON l_suppkey = s_suppkey
  WHERE l_partkey IN (
    SELECT p_partkey FROM part WHERE p_type = 'STANDARD' AND p_size <= 10)
  GROUP BY 1, 2)
SELECT p_partkey, s_name, cost_c / 100.0 AS min_cost
FROM pc p
WHERE cost_c = (SELECT min(cost_c) FROM pc p2 WHERE p2.p_partkey = p.p_partkey)
""",
        "important_parts": """
WITH v AS (
  SELECT l_partkey AS p_partkey,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS val_c
  FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_1')
  GROUP BY 1)
SELECT p_partkey, val_c / 100.0 AS value
FROM v WHERE val_c * 1000 > (SELECT sum(val_c) FROM v)
""",
        "supplier_part_counts": """
WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM rel JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' AND p_size IN (1, 5, 9, 13)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
""",
        "promotable_suppliers": """
SELECT s_suppkey, s_name, qty_c / 100.0 AS total_qty
FROM (
  SELECT l_suppkey,
         sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS qty_c
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'SMALL')
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1 HAVING qty_c > 100 * 100)
JOIN supplier ON l_suppkey = s_suppkey
WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_2')
""",
        "waiting_suppliers": """
WITH pair AS (
  SELECT l_orderkey AS o, l_suppkey AS s, max(l_shipdate) AS ms
  FROM lineitem GROUP BY 1, 2)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM pair p JOIN supplier ON p.s = s_suppkey
WHERE EXISTS (SELECT 1 FROM pair p2 WHERE p2.o = p.o AND p2.s <> p.s)
  AND NOT EXISTS (
    SELECT 1 FROM pair p3 WHERE p3.o = p.o AND p3.s <> p.s AND p3.ms >= p.ms)
GROUP BY 1
""",
        "adamic_adar": """
WITH rel AS (
  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
),
e AS (
  SELECT a.s AS x, b.s AS y
  FROM rel a JOIN rel b ON a.o = b.o AND a.s < b.s
  GROUP BY 1, 2
  HAVING count(*) >= 30
),
adj AS (
  SELECT x AS z, y AS leaf FROM e
  UNION ALL SELECT y, x FROM e
),
deg AS (SELECT z, count(*) AS deg FROM adj GROUP BY z),
w AS (
  SELECT z,
         CAST(round(1000000 / ln(CAST(deg AS DOUBLE))) AS BIGINT) AS aa_u,
         CAST(round(1000000 / CAST(deg AS DOUBLE)) AS BIGINT) AS ra_u
  FROM deg WHERE deg >= 2
),
wedge AS (
  SELECT a.leaf AS u, b.leaf AS v, w.aa_u, w.ra_u
  FROM adj a JOIN adj b ON a.z = b.z AND a.leaf < b.leaf
  JOIN w ON w.z = a.z
),
cand AS (
  SELECT u, v, CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum(aa_u) AS BIGINT) AS s_aa,
         CAST(sum(ra_u) AS BIGINT) AS s_ra
  FROM wedge
  GROUP BY u, v
),
nonedge AS (
  SELECT c.* FROM cand c
  LEFT JOIN e ON e.x = c.u AND e.y = c.v
  WHERE e.x IS NULL
)
SELECT u AS node_u, v AS node_v, n_common,
       round(s_aa / 1e6, 6) AS aa_score,
       round(s_ra / 1e6, 6) AS ra_score
FROM nonedge
ORDER BY aa_score DESC, node_u, node_v LIMIT 20
""",
        "zipf_fit": f"""
WITH normd AS (SELECT {_NORM} AS nm FROM documents),
tok0 AS (SELECT unnest(string_split(nm, ' ')) AS token FROM normd),
counts AS (
  SELECT token, count(*) AS n FROM tok0 WHERE token <> '' GROUP BY token
),
ranked AS (
  SELECT row_number() OVER (ORDER BY n DESC, token) AS rank, n
  FROM counts ORDER BY n DESC, token LIMIT 100
),
q AS (
  SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         CAST(round(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS y
  FROM ranked
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_fit,
         CAST(sum(x) AS BIGINT) AS sxi,
         CAST(sum(y) AS BIGINT) AS syi,
         CAST(sum(x * y) AS BIGINT) AS sxyi,
         CAST(sum(x * x) AS BIGINT) AS sxxi
  FROM q
)
SELECT n_fit,
       round(((sxyi / 1e12) - (sxi / 1e6) * (syi / 1e6) / CAST(n_fit AS DOUBLE))
             / ((sxxi / 1e12) - (sxi / 1e6) * (sxi / 1e6) / CAST(n_fit AS DOUBLE)),
             6) AS slope,
       round(((syi / 1e6)
              - (((sxyi / 1e12) - (sxi / 1e6) * (syi / 1e6) / CAST(n_fit AS DOUBLE))
                 / ((sxxi / 1e12) - (sxi / 1e6) * (sxi / 1e6) / CAST(n_fit AS DOUBLE)))
                * (sxi / 1e6)) / CAST(n_fit AS DOUBLE), 6) AS intercept
FROM m
""",
        "bfs_hops": """
WITH rel AS (
  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
),
e0 AS (
  SELECT a.s AS node_a, b.s AS node_b
  FROM rel a JOIN rel b ON a.o = b.o AND a.s < b.s
  GROUP BY 1, 2
  HAVING count(*) >= 30
),
adj AS (
  SELECT node_a AS u, node_b AS v FROM e0
  UNION ALL SELECT node_b, node_a FROM e0
),
h0 AS (
  SELECT DISTINCT s_suppkey AS node FROM supplier
  JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_1'
),
n1 AS (
  SELECT DISTINCT v AS node FROM adj
  WHERE u IN (SELECT node FROM h0) AND v NOT IN (SELECT node FROM h0)
),
n2 AS (
  SELECT DISTINCT v AS node FROM adj
  WHERE u IN (SELECT node FROM n1)
    AND v NOT IN (SELECT node FROM h0)
    AND v NOT IN (SELECT node FROM n1)
),
n3 AS (
  SELECT DISTINCT v AS node FROM adj
  WHERE u IN (SELECT node FROM n2)
    AND v NOT IN (SELECT node FROM h0)
    AND v NOT IN (SELECT node FROM n1)
    AND v NOT IN (SELECT node FROM n2)
)
SELECT node, CAST(hop AS INT) AS hop FROM (
  SELECT node, 0 AS hop FROM h0
  UNION ALL SELECT node, 1 FROM n1
  UNION ALL SELECT node, 2 FROM n2
  UNION ALL SELECT node, 3 FROM n3
) ORDER BY node
""",
        "window_funnel": f"""
WITH RECURSIVE ev AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
              WHEN 'purchase' THEN 3 END AS k
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
),
o AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY us, event_id)
         AS rn
  FROM ev
),
rec AS (
  SELECT user_id, 0 AS rn, CAST(-1 AS BIGINT) AS s1,
         CAST(-1 AS BIGINT) AS s2, CAST(-1 AS BIGINT) AS s3
  FROM (SELECT DISTINCT user_id FROM o)
  UNION ALL
  SELECT o.user_id, o.rn,
    CASE WHEN o.k = 1 THEN greatest(r.s1, o.us) ELSE r.s1 END,
    CASE WHEN o.k = 2 AND r.s1 >= 0 AND o.us - r.s1 <= {3 * 86_400_000_000}
         THEN greatest(r.s2, r.s1) ELSE r.s2 END,
    CASE WHEN o.k = 3 AND r.s2 >= 0 AND o.us - r.s2 <= {3 * 86_400_000_000}
         THEN greatest(r.s3, r.s2) ELSE r.s3 END
  FROM rec r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1
),
fin AS (SELECT user_id, max(rn) AS mr FROM rec GROUP BY 1)
SELECT r.user_id,
       CAST(CASE WHEN s3 >= 0 THEN 3 WHEN s2 >= 0 THEN 2
                 WHEN s1 >= 0 THEN 1 ELSE 0 END AS INT) AS funnel_depth
FROM rec r JOIN fin f ON r.user_id = f.user_id AND r.rn = f.mr
ORDER BY r.user_id
""",
        "ams_f2": """
WITH c AS (
  SELECT ctr,
         sum(CASE WHEN (CAST(concat('0x', substr(md5(concat('ams',
                    CAST(ctr AS VARCHAR), ':', CAST(user_id AS VARCHAR))),
                    1, 15)) AS BIGINT) & 1) = 1
                  THEN 1 ELSE -1 END) AS c
  FROM events, range(64) t(ctr)
  GROUP BY 1
),
g AS (
  SELECT ctr % 4 AS grp, sum(c * c) / 16.0 AS mean_c2 FROM c GROUP BY 1
)
SELECT median(mean_c2) AS est_f2, CAST(64 AS INT) AS n_counters FROM g
""",
        "source_divergence": f"""
WITH normd AS (SELECT source, {_NORM} AS nm FROM documents),
tok AS (
  SELECT source, unnest(string_split(nm, ' ')) AS w FROM normd
),
cnt AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM tok WHERE w <> '' GROUP BY 1, 2
),
tot AS (SELECT source, sum(c) AS n FROM cnt GROUP BY 1),
pj AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.c AS ca, b.c AS cb
  FROM cnt a JOIN cnt b ON a.w = b.w AND a.source < b.source
),
jt AS (
  SELECT p.*, ta.n AS na, tb.n AS nb
  FROM pj p JOIN tot ta ON ta.source = p.source_a
  JOIN tot tb ON tb.source = p.source_b
),
agg AS (
  SELECT source_a, source_b,
         sum(ca * CAST(round(ln((2.0 * ca * nb) / (ca * nb + cb * na)) * 1e9)
                       AS BIGINT)) AS sa_nano,
         sum(cb * CAST(round(ln((2.0 * cb * na) / (ca * nb + cb * na)) * 1e9)
                       AS BIGINT)) AS sb_nano,
         sum(ca) AS inter_a, sum(cb) AS inter_b
  FROM jt GROUP BY 1, 2
),
allp AS (
  SELECT ta.source AS source_a, tb.source AS source_b, ta.n AS na, tb.n AS nb,
         coalesce(sa_nano, 0) AS sa_nano, coalesce(sb_nano, 0) AS sb_nano,
         coalesce(inter_a, 0) AS inter_a, coalesce(inter_b, 0) AS inter_b
  FROM tot ta JOIN tot tb ON ta.source < tb.source
  LEFT JOIN agg ON agg.source_a = ta.source AND agg.source_b = tb.source
)
SELECT source_a, source_b,
       round((((sa_nano + 693147181 * (na - inter_a)) / 1e9 / na)
            + ((sb_nano + 693147181 * (nb - inter_b)) / 1e9 / nb)) / 2, 6)
           AS js_nats
FROM allp ORDER BY source_a, source_b
""",
        "sssp": """
WITH rel AS (
  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
),
e0 AS (
  SELECT a.s AS node_a, b.s AS node_b,
         1000000 // count(*) AS w
  FROM rel a JOIN rel b ON a.o = b.o AND a.s < b.s
  GROUP BY 1, 2
  HAVING count(*) >= 30
),
adj AS (
  SELECT node_a AS u, node_b AS v, w FROM e0
  UNION ALL SELECT node_b, node_a, w FROM e0
),
d0 AS (
  SELECT DISTINCT s_suppkey AS node, CAST(0 AS BIGINT) AS dist FROM supplier
  JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_1'
),
d1 AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d0
    UNION ALL
    SELECT adj.v, d0.dist + adj.w FROM adj JOIN d0 ON adj.u = d0.node
  ) GROUP BY node
),
d2 AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d1
    UNION ALL
    SELECT adj.v, d1.dist + adj.w FROM adj JOIN d1 ON adj.u = d1.node
  ) GROUP BY node
),
d3 AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d2
    UNION ALL
    SELECT adj.v, d2.dist + adj.w FROM adj JOIN d2 ON adj.u = d2.node
  ) GROUP BY node
)
SELECT node, dist FROM d3 ORDER BY node
""",
        "attribution_linear": """
WITH t AS (
  SELECT user_id, ts, event_id AS touch_id FROM events
  WHERE event_type = 'click'
),
c AS (
  SELECT user_id, ts, event_id AS conv_id, value FROM events
  WHERE event_type = 'purchase'
),
pr AS (
  SELECT c.conv_id, t.touch_id, c.value
  FROM t JOIN c ON t.user_id = c.user_id
   AND c.ts > t.ts
   AND epoch_us(c.ts) <= epoch_us(t.ts) + CAST(3600 AS BIGINT) * 1000000
),
n AS (SELECT conv_id, count(*) AS n_touches FROM pr GROUP BY 1)
SELECT pr.conv_id, pr.touch_id, n.n_touches,
       1000000 // n.n_touches AS weight_ppm,
       round(pr.value * CAST(1000000 // n.n_touches AS DOUBLE) / 1e6, 6)
           AS credit
FROM pr JOIN n ON pr.conv_id = n.conv_id
ORDER BY pr.conv_id, pr.touch_id
""",
        "nb_classify": f"""
WITH tr AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
te AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
trtok AS (
  SELECT cls, t FROM (
    SELECT source AS cls, unnest(string_split({_NORM}, ' ')) AS t FROM tr
  ) WHERE t <> ''
),
ctc AS (SELECT cls, t, count(*) AS c FROM trtok GROUP BY 1, 2),
ncls AS (SELECT cls, count(*) AS n_c FROM trtok GROUP BY 1),
vocab AS (SELECT count(DISTINCT t) AS v FROM trtok),
clsdocs AS (SELECT source AS cls, count(*) AS docs FROM tr GROUP BY 1),
total AS (SELECT count(*) AS tot FROM tr),
model AS (
  SELECT cd.cls,
         CAST(round(ln(CAST(docs AS DOUBLE) / tot) * 1e9) AS BIGINT)
           AS prior_nano,
         n_c, v
  FROM clsdocs cd JOIN ncls USING (cls) CROSS JOIN total CROSS JOIN vocab
),
ten AS (SELECT doc_id, source AS true_source, {_NORM} AS n FROM te),
tecnt AS (
  SELECT doc_id, t, count(*) AS cnt FROM (
    SELECT doc_id, unnest(string_split(n, ' ')) AS t FROM ten
  ) WHERE t <> '' GROUP BY 1, 2
),
contrib AS (
  SELECT tc.doc_id, m.cls,
         CAST(sum(tc.cnt * CAST(round(ln(
             CAST(coalesce(ctc.c, 0) + 1 AS DOUBLE)
             / CAST(m.n_c + m.v AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT)
           AS tok_nano
  FROM tecnt tc CROSS JOIN model m
  LEFT JOIN ctc ON ctc.cls = m.cls AND ctc.t = tc.t
  GROUP BY 1, 2
),
sc AS (
  SELECT ten.doc_id, ten.true_source, m.cls,
         m.prior_nano + coalesce(c.tok_nano, 0) AS score
  FROM ten CROSS JOIN model m
  LEFT JOIN contrib c ON c.doc_id = ten.doc_id AND c.cls = m.cls
),
rk AS (
  SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY score DESC, cls ASC
         ) AS r
  FROM sc
)
SELECT doc_id, true_source, cls AS pred_source,
       CAST(score AS BIGINT) AS score_nano
FROM rk WHERE r = 1
""",
        "cross_lm": """
WITH d AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     x -> x <> '') AS t
  FROM documents
),
trn AS (SELECT * FROM d WHERE source = 'src0'),
flat AS (
  SELECT t[i] AS w1 FROM trn, unnest(generate_series(1, len(t))) s(i)
),
uni AS (SELECT w1, count(*) AS c1 FROM flat GROUP BY w1),
vocab AS (SELECT count(*) AS v FROM uni),
tpairs AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM trn, unnest(generate_series(1, len(t) - 1)) s(i)
),
big AS (SELECT w1, w2, count(*) AS c2 FROM tpairs GROUP BY w1, w2),
spairs AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM d, unnest(generate_series(1, len(t) - 1)) s(i)
),
sc AS (
  SELECT doc_id,
         CAST(round(ln(CAST(coalesce(c2, 0) + 1 AS DOUBLE)
                       / CAST(coalesce(c1, 0) + v AS DOUBLE)) * 1e9)
              AS BIGINT) AS lp_nano
  FROM spairs
  LEFT JOIN big USING (w1, w2)
  LEFT JOIN uni USING (w1)
  CROSS JOIN vocab
)
SELECT doc_id,
       count(*) AS n_bigrams,
       round((CAST(sum(lp_nano) AS BIGINT) / 1e9) / count(*), 6)
         AS lm_score
FROM sc GROUP BY doc_id ORDER BY doc_id
""",
        "scd2_pit": """
WITH d AS (
  SELECT DISTINCT user_id, ts, event_id, event_type,
         (event_type = 'error') AS is_del
  FROM events
),
m AS (
  SELECT *,
         CASE WHEN is_del THEN '<deleted>' ELSE event_type END AS ak,
         lag(CASE WHEN is_del THEN '<deleted>' ELSE event_type END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pak
  FROM d
),
s AS (SELECT * FROM m WHERE pak IS NULL OR ak <> pak),
v AS (
  SELECT *,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nts
  FROM s
),
hist AS (
  SELECT user_id, event_type AS state,
         epoch_us(ts) AS vf_us, epoch_us(nts) AS vt_us
  FROM v WHERE NOT is_del
),
purch AS (
  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_id, p.user_id, p.ts_us,
       h.state AS state_at_purchase
FROM purch p
LEFT JOIN hist h ON h.user_id = p.user_id
  AND h.vf_us < p.ts_us
  AND (h.vt_us IS NULL OR p.ts_us <= h.vt_us)
ORDER BY p.purchase_id
""",
        "lpa_communities": """
WITH rel AS (
  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
),
e0 AS (
  SELECT a.s AS node_a, b.s AS node_b
  FROM rel a JOIN rel b ON a.o = b.o AND a.s < b.s
  GROUP BY 1, 2
  HAVING count(*) >= 30
),
adj AS (
  SELECT node_a AS u, node_b AS v FROM e0
  UNION ALL SELECT node_b, node_a FROM e0
),
l0 AS (SELECT DISTINCT u AS node, u AS label FROM adj),
"""
        + "".join(
            f"""c{i} AS (
  SELECT adj.v AS node, l.label, count(*) AS c
  FROM adj JOIN l{i - 1} l ON adj.u = l.node
  GROUP BY 1, 2
),
l{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, label ASC) AS rk
    FROM c{i}
  ) WHERE rk = 1
),
"""
            for i in range(1, 4)
        )
        + """
fin AS (SELECT node, label FROM l3)
SELECT node, label FROM fin ORDER BY node
""",
        "vocab_overlap": f"""
WITH normd AS (SELECT source, {_NORM} AS nm FROM documents),
v AS (
  SELECT source, unnest(string_split(nm, ' ')) AS token FROM normd
),
v2 AS (SELECT DISTINCT source, token FROM v WHERE token <> ''),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_vocab FROM v2 GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM v2 a JOIN v2 b ON a.token = b.token AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, i.n_inter,
       sa.n_vocab + sb.n_vocab - i.n_inter AS n_union,
       round(i.n_inter / (sa.n_vocab + sb.n_vocab - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b
ORDER BY source_a, source_b
""",
        "centroid_outliers": """
WITH d AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
  FROM embeddings
),
pos AS (
  SELECT label, unnest(range(1, 65)) AS i, q FROM d
),
per_dim AS (
  SELECT label, i, SUM(q[CAST(i AS INT)]) AS s, COUNT(*) AS c
  FROM pos GROUP BY label, i
),
cent AS (
  SELECT label, list(CAST(s // c AS BIGINT) ORDER BY i) AS cq
  FROM per_dim GROUP BY label
),
scored AS (
  SELECT d.vec_id, d.label,
         CAST(list_sum(list_transform(range(1, 65),
           i -> (d.q[i] - c.cq[i]) * (d.q[i] - c.cq[i]))) AS BIGINT) AS dist_q
  FROM d JOIN cent c USING (label)
)
SELECT vec_id, label, dist_q,
       CAST(row_number() OVER (
         PARTITION BY label ORDER BY dist_q DESC, vec_id
       ) AS BIGINT) AS far_rank,
       (row_number() OVER (
         PARTITION BY label ORDER BY dist_q DESC, vec_id
       ) <= 5) AS is_far
FROM scored
""",
        "dup_span_remove": f"""
WITH d AS (SELECT doc_id, {_NORM} AS nm FROM documents),
w AS (SELECT doc_id, string_split(nm, ' ') AS w FROM d),
g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(w[CAST(i AS INT):CAST(i + 3 AS INT)], ' ') AS g
  FROM (SELECT doc_id, w,
               unnest(range(1, greatest(len(w) - 3, 0) + 1)) AS i
        FROM w)
),
c AS (SELECT g, count(*) AS c FROM g GROUP BY g),
dup AS (SELECT doc_id, pos FROM g JOIN c USING (g) WHERE c.c >= 2),
cover AS (
  SELECT DISTINCT doc_id, pos + CAST(k AS BIGINT) AS idx
  FROM (SELECT doc_id, pos, unnest(range(0, 4)) AS k FROM dup)
),
toks AS (
  SELECT doc_id, CAST(i AS BIGINT) AS idx, w[CAST(i AS INT)] AS tok
  FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM w)
),
kept AS (
  SELECT t.doc_id, t.idx, t.tok
  FROM toks t
  LEFT JOIN cover c ON c.doc_id = t.doc_id AND c.idx = t.idx
  WHERE c.doc_id IS NULL
),
reb AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
         string_agg(tok, ' ' ORDER BY idx) AS clean_text
  FROM kept GROUP BY doc_id
),
base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM w)
SELECT b.doc_id, b.n_tokens,
       CAST(coalesce(r.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       CAST(b.n_tokens - coalesce(r.kept_tokens, 0) AS BIGINT)
         AS removed_tokens,
       coalesce(r.clean_text, '') AS clean_text
FROM base b LEFT JOIN reb r USING (doc_id) ORDER BY doc_id
""",
        "quantile_normalize": f"""
WITH {_QPPM},
v AS (SELECT source, doc_id, score_ppm FROM q),
h AS (SELECT score_ppm, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1),
c AS (
  SELECT score_ppm, cnt,
         CAST(sum(cnt) OVER (ORDER BY score_ppm) AS BIGINT) AS cum
  FROM h
),
t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM h),
grid AS (
  SELECT CAST(k AS BIGINT) AS grid_k, score_ppm AS norm
  FROM (
    SELECT c.score_ppm,
           unnest(range((1000 * (c.cum - c.cnt)) // t.n_total + 1,
                        (1000 * c.cum) // t.n_total + 1)) AS k
    FROM c, t
  )
),
r AS (
  SELECT source, doc_id, score_ppm,
         row_number() OVER (
           PARTITION BY source ORDER BY score_ppm, doc_id
         ) AS r,
         count(*) OVER (PARTITION BY source) AS n
  FROM v
)
SELECT r.source, r.doc_id, r.score_ppm,
       CAST((r.r * 1000 + r.n - 1) // r.n AS BIGINT) AS grid_k,
       g.norm AS norm_score_ppm
FROM r JOIN grid g ON g.grid_k = (r.r * 1000 + r.n - 1) // r.n
""",
        "lang_source_chi2": """
WITH conf AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS observed
  FROM documents GROUP BY 1, 2
),
r AS (SELECT source, CAST(sum(observed) AS BIGINT) AS row_total
      FROM conf GROUP BY 1),
c AS (SELECT lang, CAST(sum(observed) AS BIGINT) AS col_total
      FROM conf GROUP BY 1),
t AS (SELECT CAST(sum(observed) AS BIGINT) AS grand_total FROM conf)
SELECT conf.source, conf.lang, conf.observed,
       r.row_total, c.col_total, t.grand_total,
       CAST((conf.observed * t.grand_total - r.row_total * c.col_total)
            * (conf.observed * t.grand_total - r.row_total * c.col_total)
            AS BIGINT) AS dev2_num,
       round(CAST((conf.observed * t.grand_total
                   - r.row_total * c.col_total)
                  * (conf.observed * t.grand_total
                     - r.row_total * c.col_total) AS DOUBLE)
             / CAST(t.grand_total * r.row_total * c.col_total AS DOUBLE), 6)
         AS contrib
FROM conf JOIN r USING (source) JOIN c USING (lang) CROSS JOIN t
""",
        "interleaved_shards": """
WITH gset AS (
  SELECT _g, CAST(row_number() OVER (ORDER BY _g) - 1 AS BIGINT) AS gi
  FROM (SELECT DISTINCT source AS _g FROM documents)
),
ng AS (SELECT CAST(count(*) AS BIGINT) AS ng FROM gset),
rr AS (
  SELECT source, doc_id,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY doc_id
         ) AS BIGINT) AS r
  FROM documents
)
SELECT rr.source, rr.doc_id, rr.r,
       CAST((rr.r - 1) * ng.ng + g.gi AS BIGINT) AS pos,
       CAST(((rr.r - 1) * ng.ng + g.gi) % 8 AS BIGINT) AS shard,
       CAST(((rr.r - 1) * ng.ng + g.gi) // 8 AS BIGINT) AS seq_in_shard
FROM rr JOIN gset g ON g._g = rr.source CROSS JOIN ng
""",
        "weighted_median_quality": f"""
WITH {_QPPM},
h AS (
  SELECT source, score_ppm AS v, CAST(sum(n_chars) AS BIGINT) AS wsum
  FROM q GROUP BY 1, 2
),
c AS (
  SELECT source, v, wsum,
         CAST(sum(wsum) OVER (
           PARTITION BY source ORDER BY v
         ) AS BIGINT) AS cumw,
         CAST(sum(wsum) OVER (PARTITION BY source) AS BIGINT) AS tw
  FROM h
)
SELECT source, CAST(max(tw) AS BIGINT) AS total_w,
       CAST(CASE WHEN max(tw) > 0 THEN
         min(CASE WHEN cumw * 1000000 >= 500000 * tw THEN v END)
       END AS BIGINT) AS wq_score_ppm
FROM c GROUP BY source
""",
        "turn_integrity": f"""
WITH {_TX},
s AS (
  SELECT conv_id, turn_idx, role, text FROM transcripts
  WHERE turn_idx % 11 <> 7
  UNION ALL
  SELECT conv_id, turn_idx, role, text FROM transcripts
  WHERE turn_idx % 13 = 3
),
f AS (
  SELECT conv_id, turn_idx,
         CASE WHEN lag(role) OVER (
           PARTITION BY conv_id ORDER BY turn_idx, role, text
         ) = role THEN 1 ELSE 0 END AS rep
  FROM s
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(max(turn_idx) - min(turn_idx) + 1 AS BIGINT) AS span,
       CAST(max(turn_idx) - min(turn_idx) + 1
            - count(DISTINCT turn_idx) AS BIGINT) AS n_missing,
       CAST(count(*) - count(DISTINCT turn_idx) AS BIGINT) AS n_dup_idx,
       CAST(sum(rep) AS BIGINT) AS n_role_repeats
FROM f GROUP BY conv_id ORDER BY conv_id
""",
        "bpe_train": _bpe_sql(3),
        "pca_scores": _pca_sql(3),
        "bpe_fertility": _bpe_fertility_sql(3),
        "field_drift": f"""
WITH {_TX},
m AS (
  SELECT CAST(count(*) AS BIGINT) AS total,
         CAST(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_tool,
         CAST(sum(CASE WHEN turn_idx % 9 = 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_sign
  FROM transcripts
)
SELECT * FROM (
  SELECT 'conv_id' AS field, total AS n_seen, TRUE AS expected FROM m
  UNION ALL SELECT 'turn_idx', total, TRUE FROM m
  UNION ALL SELECT 'role', total, TRUE FROM m
  UNION ALL SELECT 'text', total, TRUE FROM m
  UNION ALL SELECT 'ts', total, TRUE FROM m
  UNION ALL SELECT 'tool', n_tool, TRUE FROM m
  UNION ALL SELECT 'sign_time', n_sign, FALSE FROM m
) ORDER BY field
""",
        "gram_matrix": """
WITH d AS (
  SELECT vec_id, list_transform(embedding,
    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM embeddings
),
a AS (
  SELECT vec_id, CAST(i AS BIGINT) AS i, q[CAST(i AS INT)] AS xi
  FROM (SELECT vec_id, q, unnest(range(1, 65)) AS i FROM d)
)
SELECT x.i AS i, y.i AS j, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(x.xi * y.xi) AS BIGINT) AS sum_xy
FROM a x JOIN a y ON x.vec_id = y.vec_id
GROUP BY 1, 2
""",
        "rfm_segments": """
WITH pu AS (
  SELECT user_id AS u, CAST(max(epoch_us(ts)) AS BIGINT) AS last_us,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM events GROUP BY 1
),
nw AS (SELECT max(last_us) AS now FROM pu),
s AS (
  SELECT pu.*, CAST(nw.now - pu.last_us AS BIGINT) AS recency_us
  FROM pu, nw
)
SELECT u AS user_id, recency_us, frequency, monetary_cents,
       CAST(ntile(5) OVER (ORDER BY recency_us ASC, u ASC) AS BIGINT) AS r,
       CAST(ntile(5) OVER (ORDER BY frequency DESC, u ASC) AS BIGINT) AS f,
       CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, u ASC) AS BIGINT)
         AS m,
       CAST(ntile(5) OVER (ORDER BY recency_us ASC, u ASC) * 100
            + ntile(5) OVER (ORDER BY frequency DESC, u ASC) * 10
            + ntile(5) OVER (ORDER BY monetary_cents DESC, u ASC)
         AS BIGINT) AS rfm_code
FROM s
""",
        "bigram_pmi": """
WITH t AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     x -> x <> '') AS t
  FROM documents
),
tt AS (SELECT t FROM t WHERE len(t) > 0),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS w FROM tt) GROUP BY w
),
bi AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
  FROM (
    SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
    FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tt)
  ) GROUP BY 1, 2
  HAVING count(*) >= 5
),
nt AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM uni),
np AS (SELECT CAST(sum(len(t) - 1) AS BIGINT) AS np FROM tt WHERE len(t) > 1),
j AS (
  SELECT bi.w1, bi.w2, bi.c_ab, a.c AS c_a, b.c AS c_b,
         CAST(round(ln(bi.c_ab) * 1e9) AS BIGINT)
         + 2 * CAST(round(ln(nt.nt) * 1e9) AS BIGINT)
         - CAST(round(ln(np.np) * 1e9) AS BIGINT)
         - CAST(round(ln(a.c) * 1e9) AS BIGINT)
         - CAST(round(ln(b.c) * 1e9) AS BIGINT) AS pmi_nano
  FROM bi
  JOIN uni a ON a.w = bi.w1
  JOIN uni b ON b.w = bi.w2
  CROSS JOIN nt CROSS JOIN np
)
SELECT w1, w2, c_ab, c_a, c_b, pmi_nano,
       round(pmi_nano / 1e9, 6) AS pmi
FROM j
ORDER BY pmi_nano DESC, w1, w2
LIMIT 50
""",
        "k_anonymity": """
WITH q AS (
  SELECT source, lang,
         CAST(floor(n_chars / 100.0) AS BIGINT) AS len_bucket
  FROM documents
),
cl AS (
  SELECT source, lang, len_bucket,
         CAST(count(*) AS BIGINT) AS class_size
  FROM q GROUP BY 1, 2, 3
),
t AS (SELECT CAST(sum(class_size) AS BIGINT) AS total FROM cl)
SELECT source, lang, len_bucket, class_size,
       (class_size < 5) AS at_risk,
       CAST(class_size * 1000000 // t.total AS BIGINT) AS share_ppm
FROM cl, t
""",
        "dedup_rate_by_source": f"""
WITH fp AS (
  SELECT source, substr(md5({_NORM}), 1, 16) AS fp FROM documents
),
per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct
  FROM fp GROUP BY 1
)
SELECT source, n_docs, n_distinct,
       CAST((n_docs - n_distinct) * 1000000 // n_docs AS BIGINT) AS dup_ppm
FROM per
""",
        "transition_entropy": f"""
WITH {_TX},
t AS (
  SELECT role AS next_role,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
  FROM transcripts
),
c AS (
  SELECT prev_role, next_role, CAST(count(*) AS BIGINT) AS c
  FROM t WHERE prev_role IS NOT NULL GROUP BY 1, 2
),
a AS (
  SELECT prev_role,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT))
           AS BIGINT) AS s
  FROM c GROUP BY 1
)
SELECT prev_role, n,
       round(ln(CAST(n AS DOUBLE)) - (s / 1e9) / n, 6) + 0.0 AS entropy
FROM a
""",
        "ngram_novelty": f"""
WITH d AS (
  SELECT doc_id, source, string_split({_NORM}, ' ') AS t FROM documents
),
pairs AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(t[i:i+2], ' ') AS gram
  FROM d, unnest(generate_series(1, len(t) - 2)) s(i)
  WHERE len(t) >= 3 AND t[1] <> ''
),
flagged AS (
  SELECT source,
         count(*) OVER (PARTITION BY gram) = 1 AS uniq
  FROM pairs
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_incidences,
       CAST(sum(CASE WHEN uniq THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(sum(CASE WHEN uniq THEN 1 ELSE 0 END) * 1000000 // count(*)
         AS BIGINT) AS novelty_ppm
FROM flagged GROUP BY source
""",
        "ann_recall": f"""
WITH {_EMB_D},
pl(t, p, i, v) AS (VALUES {_LSH_PLANE_VALUES}),
plane AS (SELECT t, p, list(v ORDER BY i) AS pv FROM pl GROUP BY t, p),
proj AS (
  SELECT d.vec_id, plane.t, plane.p,
         list_sum(list_transform(range(1, 65), i -> d.e[i] * plane.pv[i])) AS s
  FROM d, plane
),
bucket AS (
  SELECT vec_id, t,
         string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS b
  FROM proj GROUP BY vec_id, t
),
qb AS (SELECT * FROM bucket WHERE vec_id < 8),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM qb JOIN bucket cb ON qb.t = cb.t AND qb.b = cb.b
  WHERE cb.vec_id <> qb.vec_id
),
sc AS (
  SELECT cand.query_id, cand.neighbor_id,
         round({_cos_sql('q', 'c')}, 6) AS cosine
  FROM cand
  JOIN d q ON q.vec_id = cand.query_id
  JOIN d c ON c.vec_id = cand.neighbor_id
),
lr AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM sc
),
lsh AS (SELECT query_id, neighbor_id FROM lr WHERE rank <= 5),
bsc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_cos_sql('q', 'c')}, 6) AS cosine
  FROM d q JOIN d c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 8
),
brr AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM bsc
),
brute AS (SELECT query_id, neighbor_id FROM brr WHERE rank <= 5)
SELECT b.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS recall_ppm
FROM brute b
LEFT JOIN lsh l
  ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
GROUP BY b.query_id
""",
        "sq8_error": """
WITH d AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS v
  FROM embeddings
),
dims AS (
  SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
  FROM d, unnest(generate_series(1, 64)) s(i)
  GROUP BY i
),
e AS (
  SELECT d.label, d.vec_id,
         CASE WHEN dm.mx > dm.mn THEN
           (d.v[s.i] - (dm.mn
              + (((d.v[s.i] - dm.mn) * 255) // (dm.mx - dm.mn))
                * (dm.mx - dm.mn) // 255))
           * (d.v[s.i] - (dm.mn
              + (((d.v[s.i] - dm.mn) * 255) // (dm.mx - dm.mn))
                * (dm.mx - dm.mn) // 255))
         ELSE 0 END AS err
  FROM d, unnest(generate_series(1, 64)) s(i), dims dm
  WHERE dm.i = s.i
)
SELECT label,
       CAST(count(*) // 64 AS BIGINT) AS n_vecs,
       CAST(sum(err) AS BIGINT) AS sq_err_sum,
       CAST(sum(err) // count(*) AS BIGINT) AS mse_per_dim
FROM e GROUP BY label
""",
        "bootstrap_ci": f"""
WITH v AS (
  SELECT o_orderkey AS id,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
draws AS (
  SELECT s.b, cents,
         CAST(concat('0x', substr(md5(CAST(id AS STRING) || ':'
           || CAST(s.b AS STRING)), 1, 8)) AS BIGINT) % 1000000 AS u
  FROM v, unnest(generate_series(0, 199)) s(b)
),
rep AS (SELECT b, cents, {_POIS_CASE} AS w FROM draws),
means AS (
  SELECT b,
         CAST(CAST(sum(w * cents) AS BIGINT) * 1000
           // CAST(sum(w) AS BIGINT) AS BIGINT) AS m
  FROM rep GROUP BY b HAVING sum(w) > 0
),
ranked AS (
  SELECT m, b, row_number() OVER (ORDER BY m, b) AS rn,
         count(*) OVER () AS nb
  FROM means
),
ci AS (
  SELECT CAST(max(nb) AS BIGINT) AS b_reps,
         CAST(max(CASE WHEN rn = 5 THEN m END) AS BIGINT) AS ci_lo_milli,
         CAST(max(CASE WHEN rn = nb - 4 THEN m END) AS BIGINT) AS ci_hi_milli
  FROM ranked
),
point AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(CAST(sum(cents) AS BIGINT) * 1000 // count(*) AS BIGINT)
           AS mean_milli
  FROM v
)
SELECT n, b_reps, mean_milli, ci_lo_milli, ci_hi_milli FROM point, ci
""",
        "gap_sweep": f"""
WITH {_TX},
d AS (
  SELECT conv_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY conv_id ORDER BY ts, turn_idx
         ) AS diff
  FROM transcripts
),
s AS (
  SELECT count(*) AS rows_,
         count(DISTINCT conv_id) AS convs,
         sum(CASE WHEN diff > 3600000000 THEN 1 ELSE 0 END) AS b0,
         sum(CASE WHEN diff > 7200000000 THEN 1 ELSE 0 END) AS b1,
         sum(CASE WHEN diff > 14400000000 THEN 1 ELSE 0 END) AS b2,
         sum(CASE WHEN diff > 28800000000 THEN 1 ELSE 0 END) AS b3,
         1 AS _one
  FROM d
)
SELECT CAST(3600000000 AS BIGINT) AS gap_us,
       CAST(convs + COALESCE(b0, 0) AS BIGINT) AS n_sessions,
       CAST(COALESCE(b0, 0) AS BIGINT) AS n_boundaries,
       CAST(rows_ * 1000000 // (convs + COALESCE(b0, 0)) AS BIGINT) AS avg_turns_per_session_ppm
FROM s
UNION ALL
SELECT CAST(7200000000 AS BIGINT) AS gap_us,
       CAST(convs + COALESCE(b1, 0) AS BIGINT) AS n_sessions,
       CAST(COALESCE(b1, 0) AS BIGINT) AS n_boundaries,
       CAST(rows_ * 1000000 // (convs + COALESCE(b1, 0)) AS BIGINT) AS avg_turns_per_session_ppm
FROM s
UNION ALL
SELECT CAST(14400000000 AS BIGINT) AS gap_us,
       CAST(convs + COALESCE(b2, 0) AS BIGINT) AS n_sessions,
       CAST(COALESCE(b2, 0) AS BIGINT) AS n_boundaries,
       CAST(rows_ * 1000000 // (convs + COALESCE(b2, 0)) AS BIGINT) AS avg_turns_per_session_ppm
FROM s
UNION ALL
SELECT CAST(28800000000 AS BIGINT) AS gap_us,
       CAST(convs + COALESCE(b3, 0) AS BIGINT) AS n_sessions,
       CAST(COALESCE(b3, 0) AS BIGINT) AS n_boundaries,
       CAST(rows_ * 1000000 // (convs + COALESCE(b3, 0)) AS BIGINT) AS avg_turns_per_session_ppm
FROM s
""",
        "pseudonymize": f"""
WITH {_TX}
SELECT substr(md5('rel-2026-08:' || conv_id), 1, 16) AS pconv,
       CAST(count(*) AS BIGINT) AS n_turns
FROM transcripts GROUP BY 1
""",
        "t_closeness": """
WITH q AS (
  SELECT source,
         CAST(floor(n_chars / 100.0) AS BIGINT) AS len_bucket,
         lang
  FROM documents
),
cells AS (
  SELECT source, len_bucket, lang, CAST(count(*) AS BIGINT) AS n
  FROM q GROUP BY 1, 2, 3
),
cl AS (
  SELECT source, len_bucket, CAST(sum(n) AS BIGINT) AS class_size
  FROM cells GROUP BY 1, 2
),
g AS (SELECT lang, CAST(sum(n) AS BIGINT) AS gn FROM cells GROUP BY 1),
t AS (SELECT CAST(sum(gn) AS BIGINT) AS total FROM g),
dom AS (SELECT lang, CAST(gn * 1000000 // t.total AS BIGINT) AS gp FROM g, t),
ex AS (
  -- null-safe cell join: NULL lang is a first-class domain value
  -- (matches dq.t_closeness's eqNullSafe contract)
  SELECT cl.source, cl.len_bucket, cl.class_size,
         abs(COALESCE(cells.n, 0) * 1000000 // cl.class_size - dom.gp) AS d
  FROM cl CROSS JOIN dom
  LEFT JOIN cells ON cells.source IS NOT DISTINCT FROM cl.source
                 AND cells.len_bucket IS NOT DISTINCT FROM cl.len_bucket
                 AND cells.lang IS NOT DISTINCT FROM dom.lang
)
SELECT source, len_bucket, class_size,
       CAST(sum(d) // 2 AS BIGINT) AS tvd_ppm,
       (CAST(sum(d) // 2 AS BIGINT) > 150000) AS at_risk
FROM ex GROUP BY 1, 2, 3
""",
        "l_diversity": """
WITH d AS (
  SELECT source,
         CAST(n_chars // 100 AS BIGINT) AS len_bucket,
         lang
  FROM documents
),
cells AS (
  SELECT source, len_bucket, lang, CAST(count(*) AS BIGINT) AS n
  FROM d GROUP BY 1, 2, 3
)
SELECT source, len_bucket,
       CAST(sum(n) AS BIGINT) AS class_size,
       CAST(count(*) AS BIGINT) AS n_sensitive,
       count(*) < 3 AS at_risk
FROM cells GROUP BY 1, 2
""",
        "ann_ndcg": f"""
WITH {_EMB_D},
pl(t, p, i, v) AS (VALUES {_LSH_PLANE_VALUES}),
plane AS (SELECT t, p, list(v ORDER BY i) AS pv FROM pl GROUP BY t, p),
proj AS (
  SELECT d.vec_id, plane.t, plane.p,
         list_sum(list_transform(range(1, 65), i -> d.e[i] * plane.pv[i])) AS s
  FROM d, plane
),
bucket AS (
  SELECT vec_id, t,
         string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS b
  FROM proj GROUP BY vec_id, t
),
qb AS (SELECT * FROM bucket WHERE vec_id < 8),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM qb JOIN bucket cb ON qb.t = cb.t AND qb.b = cb.b
  WHERE cb.vec_id <> qb.vec_id
),
sc AS (
  SELECT cand.query_id, cand.neighbor_id,
         round({_cos_sql('q', 'c')}, 6) AS cosine
  FROM cand
  JOIN d q ON q.vec_id = cand.query_id
  JOIN d c ON c.vec_id = cand.neighbor_id
),
lr AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM sc
),
lsh AS (SELECT query_id, neighbor_id, rank FROM lr WHERE rank <= 10),
bsc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_cos_sql('q', 'c')}, 6) AS cosine
  FROM d q JOIN d c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 8
),
brr AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM bsc
),
brute AS (SELECT query_id, neighbor_id, rank FROM brr WHERE rank <= 10),
dcg AS (
  SELECT l.query_id,
         CAST(sum(CASE WHEN b.neighbor_id IS NOT NULL
                  THEN {_NDCG_W_CASE} ELSE 0 END) AS BIGINT) AS dcg_micro
  FROM lsh l
  LEFT JOIN brute b
    ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
  GROUP BY 1
),
idcg AS (
  SELECT query_id, CAST({_NDCG_CUM_CASE} AS BIGINT) AS idcg_micro
  FROM brute GROUP BY query_id
)
SELECT i.query_id,
       CAST(coalesce(d.dcg_micro, 0) AS BIGINT) AS dcg_micro,
       i.idcg_micro,
       CAST(coalesce(d.dcg_micro, 0) * 1000000 // i.idcg_micro AS BIGINT)
         AS ndcg_ppm
FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id
""",
        "minhash_calibration": f"""
WITH {_aug_near(True)},
{_SHINGLES},
perms(i, a, b) AS (VALUES {_PERM_VALUES}),
mh AS (
  SELECT sh.doc_id, perms.i,
         min((perms.a * (CAST(concat('0x', substr(md5(sh.g), 1, 8)) AS BIGINT) % {dd.MINHASH_P})
              + perms.b) % {dd.MINHASH_P}) AS v
  FROM sh, perms GROUP BY 1, 2
),
sig AS (SELECT doc_id, list(v ORDER BY i) AS l FROM mh GROUP BY doc_id),
bands AS (SELECT doc_id, l, unnest(range(0, {dd.N_BANDS})) AS band FROM sig),
bh AS (
  SELECT doc_id, band,
         md5(concat_ws(',', l[band * {dd.ROWS_PER_BAND} + 1], l[band * {dd.ROWS_PER_BAND} + 2],
                            l[band * {dd.ROWS_PER_BAND} + 3], l[band * {dd.ROWS_PER_BAND} + 4])) AS h
  FROM bands
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bh a JOIN bh b ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
),
est AS (
  SELECT doc_a, doc_b,
         CAST(round(round(list_sum(list_transform(range(1, {dd.N_PERMS} + 1),
              k -> CASE WHEN sa.l[k] = sb.l[k] THEN 1 ELSE 0 END))
              / {float(dd.N_PERMS)}, 4) * 1000000) AS BIGINT) AS est_ppm
  FROM cand
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.g = a.g
  GROUP BY 1, 2
),
tj AS (
  SELECT e.doc_a, e.doc_b, e.est_ppm,
         CASE WHEN i.i IS NULL THEN 0
              ELSE CAST(round(round(CAST(i.i AS DOUBLE)
                   / (za.sz + zb.sz - i.i), 4) * 1000000) AS BIGINT)
         END AS true_ppm
  FROM est e
  JOIN sizes za ON za.doc_id = e.doc_a
  JOIN sizes zb ON zb.doc_id = e.doc_b
  LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
)
SELECT CAST(true_ppm // 100000 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(abs(est_ppm - true_ppm)) // count(*) AS BIGINT) AS mae_ppm,
       CAST(sum(est_ppm) // count(*) AS BIGINT) AS mean_est_ppm,
       CAST(sum(true_ppm) // count(*) AS BIGINT) AS mean_true_ppm
FROM tj GROUP BY 1
""",
        "capped_sessions": f"""
WITH {_TX},
m AS (
  SELECT conv_id, turn_idx, epoch_us(ts) AS eu,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {1800 * 1_000_000}
              THEN 1 ELSE 0 END AS brk
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
g AS (
  SELECT conv_id, eu,
         sum(brk) OVER (
           PARTITION BY conv_id ORDER BY eu, turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS gsid
  FROM m
),
s AS (
  SELECT conv_id, eu, gsid,
         (eu - min(eu) OVER (PARTITION BY conv_id, gsid))
           // {7200 * 1_000_000} AS seg
  FROM g
),
a AS (
  SELECT conv_id, gsid, seg,
         CAST(count(*) AS BIGINT) AS n_turns,
         CAST(min(eu) AS BIGINT) AS start_us,
         CAST(max(eu) AS BIGINT) AS end_us
  FROM s GROUP BY 1, 2, 3
)
SELECT conv_id,
       CAST(row_number() OVER (
         PARTITION BY conv_id ORDER BY start_us, gsid, seg
       ) AS BIGINT) AS session_seq,
       n_turns, start_us, end_us,
       CAST(end_us - start_us AS BIGINT) AS dur_us
FROM a
""",
        "forget_entity": """
SELECT event_type, count(*) AS n
FROM events
WHERE user_id NOT IN (7, 21, 42)
GROUP BY 1
""",
        "snapshot_row_diff": """
WITH b0 AS (
  SELECT user_id, event_type AS state FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events WHERE epoch_us(ts) < 1705363200000000
  ) WHERE rn = 1
),
b1 AS (
  SELECT user_id, event_type AS state,
         (event_type = 'error') AS is_del FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE epoch_us(ts) >= 1705363200000000
  ) WHERE rn = 1
),
v1 AS (
  SELECT COALESCE(b1.user_id, b0.user_id) AS user_id,
         COALESCE(b1.state, b0.state) AS state
  FROM b0 FULL OUTER JOIN b1 ON b0.user_id = b1.user_id
  WHERE NOT COALESCE(b1.is_del, FALSE)
)
SELECT COALESCE(v1.user_id, b0.user_id) AS user_id,
       CASE WHEN b0.user_id IS NULL THEN 'added'
            WHEN v1.user_id IS NULL THEN 'removed'
            WHEN v1.state IS DISTINCT FROM b0.state THEN 'changed'
       END AS change
FROM b0 FULL OUTER JOIN v1 ON b0.user_id = v1.user_id
WHERE CASE WHEN b0.user_id IS NULL THEN 'added'
           WHEN v1.user_id IS NULL THEN 'removed'
           WHEN v1.state IS DISTINCT FROM b0.state THEN 'changed'
      END IS NOT NULL
""",
        "rollup_ladder": f"""
SELECT (epoch_us(ts) // {DAY_US}) * {DAY_US} AS bucket_us,
       count(*) AS n,
       CAST(sum(CAST(round(value * 1e6, 0) AS BIGINT)) AS BIGINT) AS s
FROM events
GROUP BY 1
""",
        "temporal_enrich": """
WITH ev3 AS (SELECT * FROM events),
d0 AS (
  SELECT user_id, ts, event_id, event_type,
         (event_type = 'error') AS is_del,
         row_number() OVER (PARTITION BY user_id, ts
                            ORDER BY event_id DESC) AS rn
  FROM ev3
),
d AS (SELECT user_id, ts, event_id, event_type, is_del FROM d0 WHERE rn = 1),
m AS (
  SELECT *,
         CASE WHEN is_del THEN '<deleted>' ELSE event_type END AS ak,
         lag(CASE WHEN is_del THEN '<deleted>' ELSE event_type END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pak
  FROM d
),
s AS (SELECT * FROM m WHERE pak IS NULL OR ak <> pak),
v AS (
  SELECT *,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nts
  FROM s
),
hist AS (
  SELECT user_id, event_type AS state,
         epoch_us(ts) AS vf_us, epoch_us(nts) AS vt_us
  FROM v WHERE NOT is_del
),
purch AS (
  SELECT event_id AS fact_id, user_id, epoch_us(ts) AS ts_us
  FROM ev3 WHERE event_type = 'purchase'
)
SELECT p.fact_id, p.user_id, p.ts_us,
       h.state AS state_at_purchase
FROM purch p
LEFT JOIN hist h ON h.user_id = p.user_id
  AND h.vf_us <= p.ts_us
  AND (h.vt_us IS NULL OR p.ts_us < h.vt_us)
""",
        "quota_admit": f"""
WITH {_TX}
SELECT conv_id, turn_idx,
       CAST(epoch_us(ts) AS BIGINT) AS ts_us,
       CAST((epoch_us(ts) // {DAY_US}) * {DAY_US} AS BIGINT) AS window_us,
       (row_number() OVER (
          PARTITION BY conv_id, epoch_us(ts) // {DAY_US}
          ORDER BY epoch_us(ts), turn_idx
        ) <= 4) AS admitted
FROM transcripts
""",
        "holt_winters": f"""
WITH RECURSIVE b AS (
  SELECT event_type,
         (epoch_us(ts) // {DAY_US}) * {DAY_US} AS bucket_us,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
o AS (
  SELECT *, row_number() OVER (
           PARTITION BY event_type ORDER BY bucket_us
         ) AS rn
  FROM b
),
c AS (
  SELECT event_type, bucket_us, rn, v,
         v AS l, CAST(0 AS BIGINT) AS tr, CAST(0 AS BIGINT) AS s,
         [CAST(0 AS BIGINT)] AS sl
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.event_type, o.bucket_us, o.rn, o.v,
         CASE WHEN o.rn <= 7 THEN o.v
              ELSE (o.v - c.sl[o.rn - 7] + c.l + c.tr) // 2 END,
         CASE WHEN o.rn <= 7 THEN CAST(0 AS BIGINT)
              ELSE (c.tr + ((o.v - c.sl[o.rn - 7] + c.l + c.tr) // 2
                    - c.l)) // 2 END,
         CASE WHEN o.rn <= 7 THEN CAST(0 AS BIGINT)
              ELSE (o.v - ((o.v - c.sl[o.rn - 7] + c.l + c.tr) // 2)
                    + c.sl[o.rn - 7]) // 2 END,
         list_append(c.sl,
           CASE WHEN o.rn <= 7 THEN CAST(0 AS BIGINT)
                ELSE (o.v - ((o.v - c.sl[o.rn - 7] + c.l + c.tr) // 2)
                      + c.sl[o.rn - 7]) // 2 END)
  FROM c JOIN o ON o.event_type = c.event_type AND o.rn = c.rn + 1
)
SELECT event_type, bucket_us,
       CAST(v AS BIGINT) AS v_cents,
       CAST(l AS BIGINT) AS level_cents,
       CAST(tr AS BIGINT) AS trend_cents,
       CAST(s AS BIGINT) AS season_cents,
       CAST(l + tr + coalesce(lag(s, 6) OVER (
         PARTITION BY event_type ORDER BY bucket_us), 0) AS BIGINT)
         AS forecast_cents
FROM c
""",
        "role_streaks": f"""
WITH {_TX},
isl AS (
  SELECT conv_id, role, turn_idx,
         turn_idx - row_number() OVER (
           PARTITION BY conv_id, role ORDER BY turn_idx
         ) AS g
  FROM transcripts
),
runs AS (
  SELECT conv_id, role,
         CAST(count(*) AS BIGINT) AS streak_len,
         CAST(min(turn_idx) AS BIGINT) AS start_turn
  FROM isl GROUP BY conv_id, role, g
),
rk AS (
  SELECT *, row_number() OVER (
           PARTITION BY conv_id
           ORDER BY streak_len DESC, start_turn, role
         ) AS r
  FROM runs
)
SELECT conv_id, role, streak_len, start_turn FROM rk WHERE r = 1
""",
        "distinctive_terms": f"""
WITH flat AS (
  SELECT source, t.w
  FROM (SELECT source, string_split({_NORM}, ' ') AS ws FROM documents) d,
       unnest(d.ws) t(w)
  WHERE t.w <> ''
),
cnt AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS y_i
  FROM flat GROUP BY 1, 2
),
grp AS (SELECT source, CAST(sum(y_i) AS BIGINT) AS n_i FROM cnt GROUP BY 1),
tw AS (SELECT w, CAST(sum(y_i) AS BIGINT) AS y_w FROM cnt GROUP BY 1),
gl AS (
  SELECT CAST(sum(y_i) AS BIGINT) AS n_all,
         CAST(count(DISTINCT w) AS BIGINT) AS v
  FROM cnt
),
sc AS (
  SELECT cnt.source, cnt.w, cnt.y_i,
         tw.y_w - cnt.y_i AS y_j,
         gl.n_all - grp.n_i AS n_j,
         grp.n_i, gl.v
  FROM cnt JOIN tw USING (w) JOIN grp USING (source) CROSS JOIN gl
),
zt AS (
  SELECT source, w, y_i, y_j AS y_rest,
         round((
           CAST(CAST(round(ln(CAST(y_i + 1 AS DOUBLE)) * 1e9) AS BIGINT)
              - CAST(round(ln(CAST(n_i + v - y_i - 1 AS DOUBLE)) * 1e9) AS BIGINT)
              - CAST(round(ln(CAST(y_j + 1 AS DOUBLE)) * 1e9) AS BIGINT)
              + CAST(round(ln(CAST(n_j + v - y_j - 1 AS DOUBLE)) * 1e9) AS BIGINT)
           AS DOUBLE) / 1e9
         ) / sqrt(1.0 / CAST(y_i + 1 AS DOUBLE)
                  + 1.0 / CAST(y_j + 1 AS DOUBLE)), 6) AS z
  FROM sc
),
rk AS (
  SELECT *, row_number() OVER (
           PARTITION BY source ORDER BY z DESC, w
         ) AS r
  FROM zt
)
SELECT source, w AS word, y_i, y_rest, z FROM rk WHERE r <= 10
""",
        "frame_samples": """
WITH f AS (
  SELECT doc_id, text,
         unnest(range(0,
           (octet_length(encode(text)) + 63) // 64, 4)) AS k
  FROM documents
  WHERE octet_length(encode(text)) > 0
),
fr AS (
  SELECT doc_id, k AS frame_idx,
         substr(text, CAST(k * 64 + 1 AS INT), 64) AS fch
  FROM f
),
pos AS (
  SELECT doc_id, frame_idx, fch,
         unnest(range(1, length(fch) + 1)) AS i
  FROM fr
),
m AS (
  SELECT doc_id, frame_idx,
         CAST(count(*) AS BIGINT) AS frame_bytes,
         CAST(sum(ascii(substr(fch, CAST(i AS INT), 1))) * 1000000
           // count(*) AS BIGINT) AS mean_ppm
  FROM pos GROUP BY doc_id, frame_idx
)
SELECT m.doc_id,
       CAST(m.frame_idx AS BIGINT) AS frame_idx,
       m.frame_bytes, m.mean_ppm,
       lower(hex(encode(substr(fr.fch, 1, 4)))) AS head_hex
FROM m JOIN fr ON fr.doc_id = m.doc_id AND fr.frame_idx = m.frame_idx
""",
        "seasonal_anomaly": f"""
WITH b AS (
  SELECT event_type,
         (epoch_us(ts) // {DAY_US}) * {DAY_US} AS bucket_us,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
d AS (
  SELECT *, CAST((bucket_us // {DAY_US} + 4) % 7 AS INT) AS dow FROM b
),
mdow AS (
  SELECT event_type, dow, count(*) AS nd, CAST(sum(v) AS BIGINT) AS sd
  FROM d GROUP BY 1, 2
),
r AS (
  SELECT d.event_type, d.bucket_us, d.v, d.dow,
         CAST(d.v - sd // nd AS BIGINT) AS resid
  FROM d JOIN mdow USING (event_type, dow)
),
st AS (
  SELECT event_type, count(*) AS n, sum(resid) AS s1,
         CAST(sum(resid * resid) AS BIGINT) AS s2
  FROM r GROUP BY 1
)
SELECT r.event_type, r.bucket_us,
       CAST(r.v AS BIGINT) AS v_cents,
       r.dow,
       CAST(r.resid AS BIGINT) AS resid_cents,
       round((r.resid - s1 / n)
             / sqrt((s2 - s1 * (s1 / n)) / (n - 1)), 4) AS z
FROM r JOIN st USING (event_type)
WHERE abs(round((r.resid - s1 / n)
          / sqrt((s2 - s1 * (s1 / n)) / (n - 1)), 4)) >= 1.5
""",
        "lag_features": f"""
WITH b AS (
  SELECT event_type,
         (epoch_us(ts) // {DAY_US}) * {DAY_US} AS bucket_us,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
)
SELECT event_type, bucket_us, v,
       CAST(lag(v, 1) OVER w AS BIGINT) AS lag_1,
       CAST(lag(v, 7) OVER w AS BIGINT) AS lag_7,
       CAST(CAST(sum(v) OVER (PARTITION BY event_type ORDER BY bucket_us
              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
            // count(*) OVER (PARTITION BY event_type ORDER BY bucket_us
              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS ma_7,
       CAST(lead(v, 1) OVER w AS BIGINT) AS target
FROM b
WINDOW w AS (PARTITION BY event_type ORDER BY bucket_us)
""",
        "burstiness": f"""
WITH b AS (
  SELECT event_type,
         (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS bucket_us,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT event_type, min(bucket_us) AS mn, max(bucket_us) AS mx
  FROM b GROUP BY 1
),
grid AS (
  SELECT span.event_type, g.bucket_us
  FROM span, unnest(generate_series(span.mn, span.mx, {HOUR_US})) g(bucket_us)
),
dense AS (
  SELECT grid.event_type, grid.bucket_us, coalesce(b.n, 0) AS n
  FROM grid LEFT JOIN b
    ON b.event_type = grid.event_type AND b.bucket_us = grid.bucket_us
),
st AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(n) AS BIGINT) AS total,
         CAST(sum(n * n) AS BIGINT) AS s2
  FROM dense GROUP BY 1
)
SELECT event_type, n_buckets, total,
       CASE WHEN n_buckets > 1 AND total > 0 THEN
         round(((s2 - total * (total / n_buckets)) / (n_buckets - 1))
               / (total / n_buckets), 4)
       END AS fano
FROM st
""",
        "simhash_pairs": f"""
WITH {_aug_near(False)},
normd AS (SELECT doc_id, {_NORM} AS n FROM aug),
tok0 AS (SELECT doc_id, unnest(string_split(n, ' ')) AS t FROM normd),
toks AS (SELECT DISTINCT doc_id, t FROM tok0 WHERE t <> ''),
th AS (SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h FROM toks),
bits AS (
  SELECT th.doc_id, j.j,
         sum(CASE WHEN (th.h >> CAST(j.j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th, (SELECT unnest(range(0, {dd.SIMHASH_BITS})) AS j) j
  GROUP BY 1, 2
),
sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
),
bands AS (
  SELECT doc_id, b.b AS band,
         (simhash >> CAST(b.b * 15 AS INT)) & 32767 AS bv
  FROM sig, (SELECT unnest(range(0, 4)) AS b) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM bands a JOIN bands c
    ON a.band = c.band AND a.bv = c.bv AND a.doc_id < c.doc_id
)
SELECT cand.doc_a, cand.doc_b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
FROM cand
JOIN sig sa ON sa.doc_id = cand.doc_a
JOIN sig sb ON sb.doc_id = cand.doc_b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
""",
        "tool_transitions": f"""
WITH {_TX},
t AS (
  SELECT conv_id, turn_idx, tool,
         lag(tool) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
         ) AS prev_tool
  FROM transcripts WHERE tool IS NOT NULL
),
p AS (
  SELECT prev_tool, tool, CAST(count(*) AS BIGINT) AS n
  FROM t WHERE prev_tool IS NOT NULL GROUP BY 1, 2
)
SELECT prev_tool, tool, n,
       round(n / CAST(sum(n) OVER (PARTITION BY prev_tool) AS BIGINT), 6)
         AS prob
FROM p
""",
        "distance_histogram": f"""
WITH {_EMB_D},
pr AS (
  SELECT a.label, round({_cos_sql('a', 'b')}, 6) AS cosine
  FROM d a JOIN d b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT label,
       CAST(floor(cosine * 10) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pr GROUP BY 1, 2
""",
        "ooo_profile": """
WITH a AS (
  SELECT user_id % 16 AS kafka_partition, event_id, epoch_us(ts) AS eu,
         epoch_us(ts)
           + (CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 7200) * 1000000 AS arr_us
  FROM events
),
s AS (
  SELECT kafka_partition, eu,
         row_number() OVER (PARTITION BY kafka_partition
                            ORDER BY arr_us, event_id) AS arrival_seq
  FROM a
),
r AS (
  SELECT kafka_partition,
         greatest(coalesce(
           max(eu) OVER (PARTITION BY kafka_partition ORDER BY arrival_seq
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - eu, 0), 0) AS late_us
  FROM s
)
SELECT kafka_partition,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ooo,
       CAST(max(late_us) AS BIGINT) AS max_lateness_us,
       CAST(sum(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late_60s,
       CAST(sum(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late_3600s,
       CAST(sum(CASE WHEN late_us > 86400000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late_86400s,
       CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS ooo_ppm
FROM r GROUP BY 1
""",
        "key_skew": f"""
WITH {_TX},
counts AS (
  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_rows
  FROM transcripts GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_rows) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM counts
),
top AS (
  SELECT * FROM counts ORDER BY n_rows DESC, conv_id LIMIT 10
)
SELECT CAST(row_number() OVER (ORDER BY n_rows DESC, conv_id) AS INT) AS rnk,
       conv_id, n_rows,
       CAST(n_rows * 1000000 // total AS BIGINT) AS share_ppm,
       CAST(n_rows * n_keys * 1000000 // total AS BIGINT) AS x_mean_ppm
FROM top, tot
""",
        "turn_echoes": f"""
WITH {_TX},
q AS (
  SELECT conv_id, role, split_part(text, ':', 1) AS signal,
         row_number() OVER (PARTITION BY conv_id, role
                            ORDER BY turn_idx) AS role_seq
  FROM transcripts
),
s AS (
  SELECT conv_id, role, signal,
         role_seq - row_number() OVER (
           PARTITION BY conv_id, role, signal
           ORDER BY role_seq) AS isl
  FROM q
),
runs AS (
  SELECT conv_id, CAST(count(*) AS BIGINT) AS len
  FROM s GROUP BY conv_id, role, signal, isl
)
SELECT conv_id,
       CAST(sum(len) AS BIGINT) AS n_turns,
       CAST(sum(len) - count(*) AS BIGINT) AS n_echoes,
       CAST(max(len) AS BIGINT) AS longest_echo,
       CAST((sum(len) - count(*)) * 1000000 // sum(len) AS BIGINT)
         AS echo_ppm
FROM runs GROUP BY conv_id
""",
        "split_leakage": f"""
WITH per_fp AS (
  SELECT substr(md5({_NORM}), 1, 16) AS fp,
         max(CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 >= 200 THEN 1 ELSE 0 END) AS tr,
         max(CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < 100 THEN 1 ELSE 0 END) AS va,
         max(CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 BETWEEN 100 AND 199 THEN 1 ELSE 0 END) AS te
  FROM documents GROUP BY 1
),
sums AS (
  SELECT CAST(sum(CASE WHEN tr = 1 AND va = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tv,
         CAST(sum(CASE WHEN tr = 1 AND te = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tt,
         CAST(sum(CASE WHEN va = 1 AND te = 1 THEN 1 ELSE 0 END) AS BIGINT) AS vt,
         CAST(sum(CASE WHEN tr + va + te >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS anyp
  FROM per_fp
)
SELECT 'train|val' AS leak_pair, tv AS n_fingerprints FROM sums
UNION ALL SELECT 'train|test', tt FROM sums
UNION ALL SELECT 'val|test', vt FROM sums
UNION ALL SELECT 'any', anyp FROM sums
""",
        "conv_truncation": f"""
WITH {_TX},
tok AS (
  SELECT conv_id, turn_idx,
         CAST(CASE WHEN {_NORM} = '' THEN 0
              ELSE len(string_split({_NORM}, ' ')) END AS BIGINT) AS n_tok
  FROM transcripts
),
suff AS (
  SELECT conv_id, turn_idx, n_tok,
         sum(n_tok) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS suffix_tok,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx DESC)
           AS rk
  FROM tok
),
k AS (
  SELECT conv_id, turn_idx, n_tok,
         CASE WHEN suffix_tok <= 32 OR rk = 1 THEN 1 ELSE 0 END AS keep
  FROM suff
),
agg AS (
  SELECT conv_id,
         CAST(count(*) AS BIGINT) AS n_turns,
         CAST(sum(keep) AS BIGINT) AS n_kept,
         CAST(count(*) - sum(keep) AS BIGINT) AS n_dropped,
         CAST(sum(n_tok * keep) AS BIGINT) AS kept_tokens,
         CAST(min(CASE WHEN keep = 1 THEN turn_idx END) AS BIGINT)
           AS first_kept_turn
  FROM k GROUP BY 1
)
SELECT *, CAST(greatest(32 - kept_tokens, 0) AS BIGINT) AS waste_tokens
FROM agg
""",
        "skew_join": f"""
WITH {_TX},
dim AS (
  SELECT conv_id, split_part(text, ':', 1) AS first_event_type
  FROM transcripts WHERE turn_idx = 0
)
SELECT d.first_event_type, t.role, CAST(count(*) AS BIGINT) AS n_turns
FROM transcripts t JOIN dim d USING (conv_id)
GROUP BY 1, 2
""",
        "struct_dups": f"""
WITH {_TX},
folded AS (
  SELECT conv_id,
         array_to_string(
           (list(role || ':' || split_part(text, ':', 1)
                 ORDER BY turn_idx))[1:3], '>') AS struct_sig
  FROM transcripts GROUP BY 1
)
SELECT struct_sig,
       CAST(count(*) AS BIGINT) AS n_convs,
       min(conv_id) AS canonical_conv
FROM folded GROUP BY 1 HAVING count(*) >= 2
""",
        "role_unpivot": f"""
WITH {_TX},
wide AS (
  SELECT conv_id,
         CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
         CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant,
         CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool
  FROM transcripts GROUP BY 1
)
SELECT conv_id, 'n_user' AS metric, n_user AS n FROM wide
UNION ALL SELECT conv_id, 'n_assistant', n_assistant FROM wide
UNION ALL SELECT conv_id, 'n_tool', n_tool FROM wide
""",
        "quality_auc": f"""
WITH {_QPPM},
r AS (
  SELECT source, is_en,
         2 * rank() OVER (PARTITION BY source ORDER BY score_ppm)
           + count(*) OVER (PARTITION BY source, score_ppm) - 1 AS avg2
  FROM q
),
a AS (
  SELECT source,
         CAST(sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN is_en THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
         CAST(sum(CASE WHEN is_en THEN avg2 ELSE 0 END) AS BIGINT) AS r2pos
  FROM r GROUP BY 1
)
SELECT source, n_pos, n_neg,
       CAST(r2pos - n_pos * (n_pos + 1) AS BIGINT) AS u2,
       CASE WHEN n_pos * n_neg = 0 THEN NULL
            ELSE round((r2pos - n_pos * (n_pos + 1))
                       / (2.0 * n_pos * n_neg), 6) END AS auc
FROM a
""",
        "quality_calibration": f"""
WITH {_QPPM},
g AS (
  SELECT source,
         CAST(least(score_ppm // 100000, 9) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(score_ppm) AS BIGINT) AS sum_score_ppm
  FROM q GROUP BY 1, 2
)
SELECT source, bin, n, n_pos, sum_score_ppm,
       CAST(abs(sum_score_ppm - 1000000 * n_pos) AS BIGINT) AS gap_ppm_num,
       round(CAST(sum(abs(sum_score_ppm - 1000000 * n_pos))
                    OVER (PARTITION BY source) AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY source) AS DOUBLE), 6)
         AS ece_ppm
FROM g
""",
        "len_quality_tau": f"""
WITH {_QPPM},
v AS (SELECT source, doc_id, n_chars AS x, score_ppm AS y FROM q),
p AS (
  SELECT a.source,
         CASE WHEN (a.x < b.x AND a.y < b.y)
                OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END AS c,
         CASE WHEN (a.x < b.x AND a.y > b.y)
                OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END AS d,
         CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
         CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
  FROM v a JOIN v b ON a.source = b.source AND a.doc_id < b.doc_id
),
s AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS c, CAST(sum(d) AS BIGINT) AS d,
         CAST(sum(tx) AS BIGINT) AS xt, CAST(sum(ty) AS BIGINT) AS yt,
         CAST(count(*) AS BIGINT) AS tot
  FROM p GROUP BY 1
),
cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1)
SELECT cnt.source, cnt.n,
       CAST(coalesce(s.tot, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(s.c, 0) AS BIGINT) AS concordant,
       CAST(coalesce(s.d, 0) AS BIGINT) AS discordant,
       CAST(coalesce(s.xt, 0) AS BIGINT) AS xtie,
       CAST(coalesce(s.yt, 0) AS BIGINT) AS ytie,
       CASE WHEN coalesce((s.tot - s.xt) * (s.tot - s.yt), 0) = 0 THEN NULL
            ELSE round((s.c - s.d)
                       / (sqrt(CAST(s.tot - s.xt AS DOUBLE))
                          * sqrt(CAST(s.tot - s.yt AS DOUBLE))), 6)
       END AS tau_b
FROM cnt LEFT JOIN s USING (source)
""",
    }
    # cluster_canonical reuses the dedup_clusters closure verbatim and
    # replays the keep-longest argmax on top — one derivation, not a
    # second hand-maintained copy of the LSH/closure SQL.
    closure = out["dedup_clusters"].rstrip()
    final = "SELECT doc_id, CAST(min(comp) AS BIGINT) AS component FROM reach GROUP BY doc_id"
    assert closure.endswith(final)
    out["cluster_canonical"] = (
        closure[: -len(final)].rstrip()
        + ",\n"
        + """comp AS (
  SELECT doc_id, CAST(min(comp) AS BIGINT) AS component
  FROM reach GROUP BY doc_id
),
lens AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_len FROM aug),
j AS (
  SELECT c.doc_id, c.component, l.n_len
  FROM comp c JOIN lens l USING (doc_id)
)
SELECT doc_id, component, n_len,
       (row_number() OVER (
          PARTITION BY component ORDER BY n_len DESC, doc_id
        ) = 1) AS keep
FROM j
"""
    )
    # classifier_prf reuses the nb_classify oracle verbatim as its
    # prediction source, then rolls up the confusion matrix.
    out["classifier_prf"] = (
        "WITH preds AS (\n"
        + out["nb_classify"]
        + """
),
pairs AS (
  SELECT true_source AS t, pred_source AS p, CAST(count(*) AS BIGINT) AS n
  FROM preds GROUP BY 1, 2
),
tpos AS (SELECT t AS label, CAST(sum(n) AS BIGINT) AS tp
         FROM pairs WHERE t = p GROUP BY 1),
nt AS (SELECT t AS label, CAST(sum(n) AS BIGINT) AS n_true
       FROM pairs GROUP BY 1),
np AS (SELECT p AS label, CAST(sum(n) AS BIGINT) AS n_pred
       FROM pairs GROUP BY 1),
cls AS (SELECT label FROM nt UNION SELECT label FROM np)
SELECT c.label,
       CAST(coalesce(nt.n_true, 0) AS BIGINT) AS n_true,
       CAST(coalesce(np.n_pred, 0) AS BIGINT) AS n_pred,
       CAST(coalesce(tpos.tp, 0) AS BIGINT) AS tp,
       CAST(CASE WHEN coalesce(np.n_pred, 0) > 0
            THEN coalesce(tpos.tp, 0) * 1000000 // np.n_pred
            ELSE 0 END AS BIGINT) AS precision_ppm,
       CAST(CASE WHEN coalesce(nt.n_true, 0) > 0
            THEN coalesce(tpos.tp, 0) * 1000000 // nt.n_true
            ELSE 0 END AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN coalesce(np.n_pred, 0) + coalesce(nt.n_true, 0) > 0
            THEN 2 * coalesce(tpos.tp, 0) * 1000000
                 // (coalesce(np.n_pred, 0) + coalesce(nt.n_true, 0))
            ELSE 0 END AS BIGINT) AS f1_ppm
FROM cls c
LEFT JOIN nt ON nt.label = c.label
LEFT JOIN np ON np.label = c.label
LEFT JOIN tpos ON tpos.label = c.label
"""
    )
    # the incremental NearDupIndex's final state equals the batch LSH
    # pairs over the same corpus (prefix parity), so its oracle IS the
    # batch SQL — the gate proves incremental == batch; same for the
    # incremental AnnIndex vs the batch LSH top-k
    out["neardup_index"] = out["dedup_minhash_lsh"]
    out["ann_index_topk"] = out["ann_lsh_topk"]
    return out
