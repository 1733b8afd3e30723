package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.blobl.Blobl
import graft.functions.{AnalysisFunctions => A, TextFunctions => T, VectorFunctions => V}
import graft.operators.{Ai, BatchOps, Command, Dedupe, Embeddings, FlowControl, Joins, Jq, Multimodal, Resources, Similarity}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is a thin binding of a library operator
  * (graft.operators / graft.functions) to the driver-provided tables;
  * [[oracleSql]] carries the DuckDB-equivalent ANSI SQL for the
  * correctness gate. Determinism rules used throughout:
  *   - aggregates over doubles go through DECIMAL so sums are exact and
  *     order-independent, then CAST to DOUBLE for a stable output type;
  *   - every result has a total ORDER BY. On per-row kernel queries the
  *     sort is applied to the RAW INPUT and the kernel projection sits
  *     ABOVE it: a global sort's range exchange runs a sampling pass
  *     that re-executes its child plan, so sorting last would run an
  *     expensive codec/hash kernel twice — per-row projections preserve
  *     the sort order, making the two forms equivalent;
  *   - column names are aliased identically on both sides.
  */
object SparkEntry {

  /** Exact decimal view of a double column (2-decimal money/qty data). */
  /** Pair-miner gate contract. At sf0.1/sf1 (where the DuckDB oracle
    * runs) the pairs are globally ordered for the driver's compare. On
    * the upper ladder rungs the protocol sets SPARK_GRAFT_PAIR_DIGEST=1
    * and the gate emits ONE commutative digest row instead — count +
    * bit_xor of per-row xxhash64 over every output column, an
    * order-insensitive set hash that still pins the exact value set —
    * because the contract's global sort was measured as HALF of
    * t_ngram_jaccard's sf100 wall (112 s of 262: an 18.7 GB shuffle +
    * 104 GB-spill sort of 2.75 B pairs the operator itself never
    * performs; VERDICT r15 #2). The miners' regression signal at the
    * top rungs now reads mining, not harness.
    */
  private def pairGate(pairs: DataFrame): DataFrame =
    if (sys.env.contains("SPARK_GRAFT_PAIR_DIGEST"))
      pairs.agg(count(lit(1)).as("n_pairs"),
        call_function("bit_xor",
          xxhash64(pairs.columns.map(col).toSeq: _*)).as("digest"))
    else pairs.orderBy(col("id_a"), col("id_b"))

  /** Warm agent ⇄ MCP fixture shared across gate invocations (VERDICT
    * r15 #7): the guest subprocess spawn + h2c handshake is pure fixed
    * cost (a full JVM boot for p_agent — the two agent gates were 8.8 s
    * of the 106.9 s round-close bench), so ONE MCP server + ONE pooled
    * guest per gate serve every bench pass. AgentRuntime's guest pool
    * keys on (command, sseUrl) — both stable across invocations here —
    * and its shutdown hook reaps the guests; Bench/Verify hard-exit, so
    * the HTTP server's dispatcher thread never outlives a run (tests
    * plan but do not execute these gates — PlanContractSpec pins that).
    */
  private val agentFixtures =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def agentMcpUrl(s: SparkSession, name: String): String =
    agentFixtures.getOrElseUpdate(name, {
      val repo = java.nio.file.Files.createTempDirectory(name + "_mcp")
      val procs = repo.resolve("resources").resolve("processors")
      java.nio.file.Files.createDirectories(procs)
      java.nio.file.Files.writeString(procs.resolve("to_upper.yaml"),
        "label: to_upper\nmeta:\n  mcp:\n    enabled: true\n" +
          "    description: Uppercase the value\n" +
          "mapping: root = content().uppercase()\n")
      new graft.mcp.McpServer(s, repo.toString).serveHttp().sseUrl
    })

  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private def sumd(c: Column): Column = sum(dec(c)).cast("double")
  private val revenue: Column = dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))
  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── core relational ───────────────────────────────────────────────
    "q1_pricing_summary" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumd(col("l_quantity")).as("sum_qty"),
          sumd(col("l_extendedprice")).as("sum_base_price"),
          sum(revenue).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    "q2_top_orders" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),

    "q3_segment_revenue" -> ((s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      // Shape for scale (r15): the naive l⋈o⋈c → groupBy plan
      // sort-merge-joins the FULL lineitem shuffle (180 M rows at sf30)
      // — measured 5.4 GB of sort spill and 20 s of GC in that one
      // stage (PlanLab stage metrics). Two changes keep every stage
      // sort-free and memory-bounded: (1) orders pre-filters through
      // the customer broadcast BEFORE the big join, so the build side
      // shrinks ~5×; (2) the big join is a shuffled HASH join — build
      // the filtered orders (one narrow column), STREAM lineitem
      // through it, never sort or materialize the 180 M-row side.
      // (Pushing the revenue agg below the join was measured WORSE:
      // per-order partial aggregation holds ~1.4 M keys per map task,
      // which tips HashAggregate into its sort-based fallback — 19.8 GB
      // spill.) The one-phase agg above the join reuses the join's
      // hash partitioning (orderkey), so keys per task stay small.
      val o = Tables.orders(s, d)
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"))
      Tables.lineitem(s, d)
        .join(o.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(revenue).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    "q4_region_supplier" -> ((s, d) => {
      val su = Tables.supplier(s, d)
      val na = Tables.nation(s, d)
      val re = Tables.region(s, d)
      su.join(broadcast(na), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(re), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sumd(col("s_acctbal")).as("total_acctbal"))
        .orderBy(col("r_name"))
    }),

    "q5_rollup" -> ((s, d) =>
      Tables.orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sumd(col("o_totalprice")).as("total_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
          col("n_orders"), col("total_price"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))),

    "q6_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    "q7_semi_join" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    "q8_anti_join" -> ((s, d) =>
      // customers with no high-value order
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    "q9_except" -> ((s, d) => {
      // high-value error users who never made a high-value purchase
      val ev = Tables.events(s, d).filter(col("value") > 180)
      ev.filter(col("event_type") === "error").select(col("user_id")).distinct()
        .except(ev.filter(col("event_type") === "purchase")
          .select(col("user_id")).distinct())
        .orderBy(col("user_id"))
    }),

    "q10_events_hourly" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sumd(col("value")).as("total_value"))
        .select(unix_micros(col("w.start")).as("hour_start_us"),
          col("event_type"), col("n_events"), col("total_value"))
        .orderBy(col("hour_start_us"), col("event_type"))),

    "q11_asof_join" -> ((s, d) => {
      // As-of join: for each purchase, the most recent signup (ts <=
      // purchase ts) of the same user. Single shuffle on user_id via a
      // range-window fold over the unioned stream — no per-row lookup.
      // pre-filter to the two event types the join touches: the window
      // sort's input shrinks ~6× and the result is identical (only
      // signup rows feed the fold, only purchase rows are emitted)
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("signup", "purchase"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("last_signup_us",
          max(when(col("event_type") === "signup", unix_micros(col("ts")))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("last_signup_us"))
        .orderBy(col("event_id"))
    }),

    // ── reference processors (SURVEY.md §2) ──────────────────────────
    "p_mapping" -> ((s, d) =>
      // `mapping` processor: projection + computed fields (mapping.adoc:26)
      Tables.documents(s, d).select(
        col("doc_id"),
        upper(col("lang")).as("lang_uc"),
        length(col("text")).as("text_len"),
        T.tokenCount(col("text")).as("n_tokens"),
        substring(col("text"), 1, 40).as("head"))
        .orderBy(col("doc_id"))),

    "p_bounds_check" -> ((s, d) =>
      BatchOps.boundsCheck(Tables.documents(s, d), col("text"), 200, 1500)
        .select(col("doc_id"), length(col("text")).as("text_len"))
        .orderBy(col("doc_id"))),

    "p_switch" -> ((s, d) =>
      // `switch` processor: first-matching-case routing (switch.adoc:26)
      Tables.events(s, d).withColumn("route",
        FlowControl.switch(Seq(
          (col("event_type") === "error", lit("alerts")),
          (col("event_type").isin("purchase", "signup"), lit("conversions")),
          (col("value") > 150, lit("big"))), lit("archive")))
        .groupBy(col("route")).agg(count(lit(1)).as("n"))
        .orderBy(col("route"))),

    "p_group_by_value" -> ((s, d) =>
      BatchOps.groupByValue(Tables.documents(s, d), col("source"),
          Seq(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars")))
        .orderBy(col("source"))),

    "p_archive" -> ((s, d) =>
      BatchOps.archiveLines(
          Tables.documents(s, d).filter(col("doc_id") < 40),
          col("lang"), substring(col("text"), 1, 20), col("doc_id"), "\n")
        .orderBy(col("key"))),

    "p_unarchive" -> ((s, d) =>
      // `unarchive`/`string_split`: explode payload into parts
      BatchOps.unarchiveLines(
          Tables.documents(s, d).filter(col("doc_id") < 40)
            .select(col("doc_id"), col("text")),
          col("text"), " ")
        .filter(length(col("part")) > 0)
        .groupBy(col("part")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("part"))
        .limit(25)),

    "p_archive_json" -> ((s, d) =>
      // archive format json_array (processors/archive.adoc:26)
      BatchOps.archiveJsonArray(
          Tables.documents(s, d).filter(col("doc_id") < 40),
          col("lang"), to_json(struct(col("doc_id"))), col("doc_id"))
        .orderBy(col("key"))),

    "p_unarchive_json" -> ((s, d) => {
      // json_array round-trip: archive per lang, unarchive back to parts
      val arch = BatchOps.archiveJsonArray(
        Tables.documents(s, d).filter(col("doc_id") < 40),
        col("lang"), to_json(struct(col("doc_id"))), col("doc_id"))
      BatchOps.unarchiveJsonArray(arch, col("archived"))
        .select(col("key"), col("part"))
        .orderBy(col("key"), col("part"))
    }),

    "p_unarchive_csv" -> ((s, d) => {
      // archive format csv + header-driven unarchive
      // (processors/archive.adoc:26, unarchive.adoc:26)
      val nation = Tables.nation(s, d)
        .select(col("n_regionkey").as("rk"),
          col("n_nationkey").cast("string").as("id"), col("n_name").as("name"))
      val arch = BatchOps.archiveCsv(nation, col("rk"),
        Seq(col("id"), col("name")), col("id").cast("int"))
      BatchOps.unarchiveCsv(arch, col("archived"))
        .select(col("key"),
          element_at(col("part"), "id").as("id"),
          element_at(col("part"), "name").as("name"))
        .orderBy(col("key"), col("id"), col("name"))
    }),

    "p_scanner_switch" -> ((s, d) => {
      // `switch` scanner (docs/…/scanners/switch.adoc): per-file
      // scanner selection by re_match_name — first candidate wins,
      // catch-all covers the rest. Fixture files derive from the
      // documents table (one file per doc, extension from doc_id % 3)
      // so the routed messages are pure-SQL-predictable.
      import graft.sources.Sources
      val dir = java.nio.file.Files.createTempDirectory("scan_switch")
      Tables.documents(s, d).filter(col("doc_id") < 60)
        .select(col("doc_id")).collect().map(_.getLong(0)).foreach { id =>
          val (name, content) = (id % 3) match {
            case 0 => (s"doc_$id.jsonl", s"l1-$id\nl2-$id\n")
            case 1 => (s"doc_$id.log", s"E1-$id E2-$id")
            case _ => (s"doc_$id.bin", s"whole-$id")
          }
          java.nio.file.Files.write(dir.resolve(name), content.getBytes("UTF-8"))
        }
      Sources.switchFiles(s, dir.toString + "/*", Seq(
          Sources.ScanCase(Some("\\.jsonl$")),
          Sources.ScanCase(Some("\\.log$"), scanner = "re_match",
            pattern = "E\\d"),
          Sources.ScanCase(None, scanner = "to_the_end")))
        .select(col("value")).orderBy(col("value"))
    }),

    "p_insert_part" -> ((s, d) =>
      // insert_part at index 1 within each source batch
      // (processors/insert_part.adoc:26)
      BatchOps.insertPart(
          Tables.documents(s, d).filter(col("doc_id") < 40)
            .select(col("source"), col("doc_id"),
              substring(col("text"), 1, 10).as("payload")),
          col("source"), col("doc_id"), "payload", lit("INSERTED"), 1)
        .select(col("source"), col("batch_idx"), col("payload"))
        .orderBy(col("source"), col("batch_idx"))),

    "p_read_until" -> ((s, d) =>
      // read_until: consume each user's events until the first error
      // (docs/modules/components/pages/inputs/read_until.adoc:26)
      BatchOps.readUntil(
          Tables.events(s, d).select(col("user_id"), col("event_id"),
            col("event_type")),
          col("user_id"), col("event_id"),
          col("event_type") === "error", inclusive = true)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_consumed"))
        .orderBy(col("user_id"))),

    "p_group_by" -> ((s, d) =>
      // group_by with a predicate list: first matching predicate wins
      // (processors/group_by.adoc:26)
      BatchOps.groupByPredicates(
          Tables.events(s, d),
          Seq(col("event_type") === "error", col("value") > 150.0))
        .groupBy(col("group")).agg(count(lit(1)).as("n"))
        .orderBy(col("group"))),

    "t_dedup_clusters" -> ((s, d) => {
      // near-dup cluster resolution: pairs → connected components →
      // (id, representative); the corpus-dedup step after pair mining.
      // Pairs come from the banded-LSH path — the 100 TB default, and
      // oracle-proven equal to the exact inverted-index pairs at these
      // parameters (see t_minhash_lsh)
      val pairs = Dedupe.minhashLshPairs(
        Tables.documents(s, d), "text", "doc_id", 3, 16, 4, 0.35)
      Dedupe.resolveClusters(pairs).orderBy(col("id"))
    }),

    "t_chunk_markdown" -> ((s, d) => {
      // markdown-strategy chunking — rows-only (algorithmic); boundary
      // invariants gated in ArchiveChunkSpec
      Tables.documents(s, d).filter(col("doc_id") < 30)
        .select(col("doc_id"),
          posexplode(call_function("graft_chunk_markdown",
            col("text"), lit(150), lit(0))))
        .withColumnRenamed("pos", "chunk_idx")
        .withColumnRenamed("col", "chunk")
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    "t_chunk_recursive" -> ((s, d) => {
      // recursive_character chunking — no SQL oracle (algorithmic);
      // unit-tested for boundary/overlap invariants in ChunkerSpec
      Tables.documents(s, d).filter(col("doc_id") < 30)
        .select(col("doc_id"),
          posexplode(T.chunksRecursive(col("text"), 120, 20)))
        .withColumnRenamed("pos", "chunk_idx")
        .withColumnRenamed("col", "chunk")
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    "t_chunk_token" -> ((s, d) => {
      // token-strategy chunking (text_chunker_processor.go:61,75):
      // windows of 32 BPE pre-tokenizer segments with 8-token overlap.
      // FULLY oracle-gated — the BPE regex is RE2-compatible by design,
      // so DuckDB reproduces the exact token windows
      Tables.documents(s, d).filter(col("doc_id") < 30)
        .withColumn("toks", T.bpeTokens(col("text")))
        .select(col("doc_id"),
          posexplode(T.chunksFromTokens(col("toks"), 32, 8)))
        .withColumnRenamed("pos", "chunk_idx")
        .withColumnRenamed("col", "chunk")
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    "p_select_parts" -> ((s, d) =>
      BatchOps.selectParts(
          Tables.documents(s, d), col("source"), col("doc_id"), Seq(0, 2))
        .select(col("source"), col("batch_idx"), col("doc_id"))
        .orderBy(col("source"), col("batch_idx"))),

    "p_split" -> ((s, d) =>
      BatchOps.splitBatches(Tables.documents(s, d), col("lang"), col("doc_id"), 25)
        .groupBy(col("lang"), col("sub_batch")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("sub_batch"))),

    "p_try_catch" -> ((s, d) => {
      // error-channel discipline: failed JSON extraction marks the row,
      // catch recovers with a default (try.adoc:26 / catch.adoc:26).
      // Validity = integer regex on BOTH sides: Spark's non-ANSI cast
      // and DuckDB's TRY_CAST disagree on non-integer numerics ('1.5'),
      // so neither engine's cast defines the semantics.
      val raw = get_json_object(col("props"), "$.k")
      val parsed = when(raw.rlike("^-?\\d{1,9}$"), raw.cast("int"))
      val tried = FlowControl.tryColumn(
        Tables.events(s, d), "k", parsed,
        parsed.isNull, concat(lit("bad props: "), col("props")))
      tried.withColumn("k", coalesce(col("k"), lit(-1)))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .orderBy(col("k"))
    }),

    "p_text_chunker" -> ((s, d) =>
      // text_chunker (internal/impl/text/text_chunker_processor.go:33)
      Tables.documents(s, d).filter(col("doc_id") < 30)
        .select(col("doc_id"),
          posexplode(T.chunks(col("text"), 100, 20)))
        .withColumnRenamed("pos", "chunk_idx")
        .withColumnRenamed("col", "chunk")
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // ── envelope pipeline e2e (generate → mapping → try/catch →
    //    reject_errored → switch), SURVEY.md §1.3 ──────────────────────
    "p_pipeline_e2e" -> ((s, d) => {
      // generate source (inputs/generate.adoc:26) feeds a Bloblang
      // mapping; a failing parse marks the error channel; catch recovers
      // rejected rows; switch routes; group_by_value summarizes.
      val gen = sources.Sources.generate(s, 200,
        """root.id = this.seq
          |root.k = if this.seq % 5 == 0 { "oops" } else { (this.seq % 97).string() }
          |root.grade = if this.seq % 7 == 0 { "review" } else { "clean" }
          |""".stripMargin)
      val typed = sources.Envelope.unwrap(sources.Envelope.ensure(gen),
        "id BIGINT, k STRING, grade STRING")
      val parsed = when(col("k").rlike("^-?\\d+$"), col("k").cast("int"))
      val tried = FlowControl.tryColumn(typed, "kv", parsed,
        parsed.isNull, concat(lit("parse: "), col("k")))
      val (ok, bad) = FlowControl.rejectErrored(tried)
      val recovered = bad.withColumn("kv", lit(-1))
        .withColumn("error", lit(null).cast("string"))
      ok.unionByName(recovered)
        .withColumn("route", FlowControl.switch(Seq(
          (col("grade") === "review", lit("review")),
          (col("kv") >= 50, lit("high"))), lit("low")))
        .groupBy(col("route"))
        .agg(count(lit(1)).as("n"), sum(col("kv")).cast("bigint").as("sum_kv"))
        .orderBy(col("route"))
    }),

    "p_branch" -> ((s, d) =>
      // `branch` (processors/branch.adoc:26): request_map → child →
      // result merged back on the row id
      FlowControl.branch(Tables.documents(s, d), Seq(col("text")), col("doc_id"),
          req => req.select(col("__branch_id"),
            T.tokenCount(col("text")).as("n_toks")))
        .select(col("doc_id"), col("lang"), col("n_toks"))
        .orderBy(col("doc_id"))),

    "p_noop" -> ((s, d) =>
      // `noop` (processors/noop.adoc:26)
      Tables.region(s, d).orderBy(col("r_regionkey"))),

    "p_workflow" -> ((s, d) => {
      // `workflow` DAG (processors/workflow.adoc:25-90): two independent
      // branches feed a join stage; Spark schedules them concurrently
      val stages = FlowControl.workflow(Tables.events(s, d), Seq(
        ("by_user", Seq("root"), (m: Map[String, DataFrame]) =>
          m("root").groupBy(col("user_id"))
            .agg(count(lit(1)).as("n_events"))),
        ("purchases", Seq("root"), (m: Map[String, DataFrame]) =>
          m("root").filter(col("event_type") === "purchase")
            .groupBy(col("user_id"))
            .agg(sumd(col("value")).as("spend"))),
        ("joined", Seq("by_user", "purchases"), (m: Map[String, DataFrame]) =>
          m("by_user").join(m("purchases"), Seq("user_id"), "left")
            .withColumn("spend", coalesce(col("spend"), lit(0.0))))))
      stages("joined").orderBy(col("user_id"))
    }),

    "p_command" -> ((s, d) =>
      // `command` (processors/command.adoc:26): fork per message, stdin =
      // content, stdout replaces content; `tr ae AE` is the deterministic
      // stand-in for a user binary
      Command.perMessage(
          Tables.documents(s, d)
            .filter(col("doc_id") < 100 && col("text").isNotNull)
            .select(col("doc_id"),
              regexp_replace(substring(col("text"), 1, 40), "[\\n\\r]", " ")
                .as("value")),
          Seq("tr", "ae", "AE"))
        .select(col("doc_id"), col("value"))
        .orderBy(col("doc_id"))),

    "p_subprocess" -> ((s, d) =>
      // `subprocess` (processors/subprocess.adoc:26): ONE child per
      // partition, newline-delimited request/response — the scalable
      // process-pipe shape (sed -u = unbuffered line responses)
      Command.perPartition(
          Tables.documents(s, d)
            .filter(col("doc_id") < 200 && col("text").isNotNull)
            .select(col("doc_id"),
              regexp_replace(substring(col("text"), 1, 30), "[\\n\\r]", " ")
                .as("value")),
          Seq("sed", "-u", "s/e/E/g"))
        .select(col("doc_id"), col("value"))
        .orderBy(col("doc_id"))),

    "p_while" -> ((s, d) => {
      // `while` (processors/while.adoc:26): re-apply children while the
      // batch-level predicate holds (any row still below threshold)
      val start = Tables.documents(s, d).filter(col("doc_id") < 300)
        .select(col("doc_id"), (col("doc_id") % 10).as("kv"))
      FlowControl.whileLoop(start,
          cur => !cur.filter(col("kv") < 8).isEmpty,
          cur => cur.withColumn("kv",
            when(col("kv") < 8, col("kv") + 3).otherwise(col("kv"))),
          maxIters = 10)
        .orderBy(col("doc_id"))
    }),

    "p_cdc_apply" -> ((s, d) => {
      // Debezium-envelope CDC ingestion + apply (SURVEY §2.12 CDC row,
      // reference TYPES.md wire contracts): inserts, later updates, and
      // later deletes fold to current state in ONE keyed window pass
      val base = Tables.orders(s, d).filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
          dec(col("o_totalprice")).as("price"))
      val ins = base.select(to_json(struct(
        struct(col("k"), col("cust"), col("price")).as("after"),
        lit("c").as("op"), lit(1000L).as("ts_ms"))).as("value"))
      val upd = base.filter(col("k") % 7 === 0)
        .withColumn("price",
          (col("price") + lit(10).cast("decimal(18,2)")).cast("decimal(18,2)"))
        .select(to_json(struct(
          struct(col("k"), col("cust"), col("price")).as("after"),
          lit("u").as("op"), lit(2000L).as("ts_ms"))).as("value"))
      val del = base.filter(col("k") % 13 === 0)
        .select(to_json(struct(
          struct(col("k"), col("cust"), col("price")).as("before"),
          lit("d").as("op"), lit(3000L).as("ts_ms"))).as("value"))
      val ops = sources.Cdc.debeziumOps(
        ins.unionByName(upd).unionByName(del), "value",
        "k BIGINT, cust BIGINT, price DECIMAL(18,2)")
      sources.Cdc.latestState(ops, Seq("k"), col("__ts_ms"))
        // money convention: emit double like every sumd column — the
        // driver's hasher distinguishes decimal128 from the oracle's
        // float64 fetch even when values are identical (round-4 red)
        .withColumn("price", col("price").cast("double"))
        .orderBy(col("k"))
    }),

    "p_salesforce" -> ((s, d) => {
      // salesforce SOQL extract (inputs/salesforce.adoc): client-
      // credentials exchange, placeholder-escaped WHERE, 50-record
      // pages over nextRecordsUrl — record payloads verified
      // relationally (fixture seed = bounded collect)
      import graft.sources.Salesforce
      val seed = Tables.orders(s, d).filter(col("o_orderkey") < 400)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey").collect()
      val name = "sfq_" + java.util.UUID.randomUUID.toString.take(8)
      val recs = seed.map(r => Salesforce.InMemoryServer.Record(Seq(
        "Id" -> f"ORD${r.getLong(0)}%06d", "Cust__c" -> r.getLong(1),
        "Status__c" -> r.getString(2), "Price__c" -> r.getDouble(3))))
      Salesforce.registerClient(name,
        Salesforce.InMemoryServer.Transport("Order__c", recs.toSeq,
          pageSize = 50))
      Salesforce.read(s, s"mem://$name", "cid", "csec", "Order__c",
          Seq("Id", "Cust__c", "Status__c", "Price__c"),
          where = "Price__c > ?", args = Seq(50000.0),
          suffix = "ORDER BY Id")
        .select(
          get_json_object(col("value"), "$.Id").as("id"),
          get_json_object(col("value"), "$.Cust__c").cast("long")
            .as("cust"),
          get_json_object(col("value"), "$.Status__c").as("status"),
          get_json_object(col("value"), "$.Price__c").cast("double")
            .as("price"))
        .orderBy("id")
    }),

    "p_pg_cdc" -> ((s, d) => {
      // native pgoutput CDC (input_pg_stream.go + pglogicalstream —
      // the reference's flagship connector; wire format is PostgreSQL's
      // public logical-replication protocol): a recorded WAL byte
      // stream — XLogData/keepalive framing, BEGIN/RELATION/INSERT/
      // UPDATE/DELETE/COMMIT messages with text-format tuples — is
      // decoded by the wire parser into typed changes (TYPES.md matrix)
      // and folded to relational state. The fixture seed is a bounded
      // collect (≤ ~500 rows, the in-memory-server precedent); the
      // decode is per-slot sequential like the reference's single
      // replication connection, the APPLY is the distributed half.
      import graft.sources.PgOutput
      import graft.sources.PgOutput.Fixture._
      val seed = Tables.orders(s, d).filter(col("o_orderkey") < 2000)
        .select("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate")
        .orderBy("o_orderkey").collect()
      val relId = 16384L
      val relCols = Seq(
        (1, "o_orderkey", PgOutput.OidInt8, -1),
        (0, "o_custkey", PgOutput.OidInt8, -1),
        (0, "o_orderstatus", PgOutput.OidText, -1),
        (0, "o_totalprice", PgOutput.OidFloat8, -1),
        (0, "o_orderdate", PgOutput.OidTimestamp, -1))
      val t0 = PgOutput.unixMicrosToPgMicros(1700000000000000L)
      val msgs = Vector.newBuilder[Array[Byte]]
      msgs += begin(1L, t0, 1)
      msgs += relation(relId, "public", "orders", 'd', relCols)
      seed.foreach { r =>
        msgs += insert(relId, Seq(
          VText(r.getLong(0).toString), VText(r.getLong(1).toString),
          VText(r.getString(2)), VText(pgText(r.getDouble(3))),
          VText(pgText(r.getTimestamp(4)))))
      }
      msgs += commit(1L, 2L, t0)
      msgs += begin(3L, t0 + 1000000L, 2)
      seed.filter(_.getLong(0) % 10 == 0).foreach { r =>
        msgs += update(relId, None, Seq(
          VText(r.getLong(0).toString), VText(r.getLong(1).toString),
          VText("X"), VText(pgText(r.getDouble(3) + 10.0)),
          VText(pgText(r.getTimestamp(4)))))
      }
      seed.filter(_.getLong(0) % 7 == 0).foreach { r =>
        // replica identity 'd': delete carries the key, rest null
        msgs += delete(relId, 'K', Seq(
          VText(r.getLong(0).toString), VNull, VNull, VNull, VNull))
      }
      msgs += commit(3L, 4L, t0 + 1000000L)
      val frames = msgs.result().zipWithIndex.map { case (m, i) =>
        xlog(1000L + i, t0, m)
      }
      val typed = PgOutput.typedChanges(s, frames, "orders")
      sources.Cdc.latestState(typed, Seq("o_orderkey"), col("__lsn"))
        .drop("__lsn").orderBy("o_orderkey")
    }),

    "p_ws_roundtrip" -> ((s, d) => {
      // websocket contract (inputs/websocket.adoc,
      // outputs/websocket.adoc over the RFC 6455 stack): documents are
      // sent through the OUTPUT (one masked client connection per
      // partition, close handshake on drain) to a real loopback
      // WebSocket server, then the collected messages are verified
      // relationally. Frame codec/fragmentation/masking contracts are
      // WebSocketSpec's.
      import graft.sources.WebSocket
      val collect = new WebSocket.CollectServer
      try {
        val docs = Tables.documents(s, d).filter(col("doc_id") < 400)
          .select(to_json(struct(col("doc_id"), col("lang"),
            col("n_chars"))).as("value"))
          .repartition(4)
        WebSocket.write(docs, collect.url)
        collect.drain(s)
          .select(
            get_json_object(col("value"), "$.doc_id").cast("long")
              .as("doc_id"),
            get_json_object(col("value"), "$.lang").as("lang"),
            get_json_object(col("value"), "$.n_chars").cast("long")
              .as("n_chars"))
          .orderBy(col("doc_id"))
          .localCheckpoint()
      } finally collect.close()
    }),

    "p_cassandra_roundtrip" -> ((s, d) => {
      // cassandra contract (internal/impl/cassandra over the public
      // CQL native protocol v4, real loopback sockets): orders
      // inserted through the output in LOGGED BATCHES, then every
      // o_orderkey % 5 row RE-INSERTED with a bumped price — INSERT
      // IS AN UPSERT on the primary key, so the oracle's CASE
      // recomputes the final state; the input SELECT reads it back
      // typed. Protocol/typing/error contracts live in CassandraSpec.
      import graft.sources.Cassandra
      val name = "cq_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val srv = Cassandra.named(name)
      try {
        srv.registerTable("shop", "orders", Seq(
          "k" -> "bigint", "status" -> "varchar", "price" -> "double",
          "placed" -> "timestamp"), key = Seq("k"))
        val ins =
          "INSERT INTO shop.orders (k, status, price, placed) " +
            "VALUES (?, ?, ?, ?)"
        val args = Seq("k" -> "bigint", "status" -> "varchar",
          "price" -> "double", "placed" -> "timestamp")
        val base = Tables.orders(s, d).filter(col("o_orderkey") < 700)
          .select(col("o_orderkey").as("k"),
            col("o_orderstatus").as("status"),
            col("o_totalprice").as("price"),
            col("o_orderdate").as("placed"))
        Cassandra.write(base, s"mem://$name", ins, args, batchSize = 50)
        Cassandra.write(
          base.filter(col("k") % 5 === 0)
            .withColumn("price", col("price") + 9.0),
          s"mem://$name", ins, args, batchSize = 50)
        Cassandra.read(s, s"mem://$name",
            "SELECT k, status, price, placed FROM shop.orders")
          .select(
            get_json_object(col("value"), "$.k").cast("long").as("k"),
            get_json_object(col("value"), "$.status").as("status"),
            get_json_object(col("value"), "$.price").cast("double")
              .as("price"),
            get_json_object(col("value"), "$.placed").cast("timestamp")
              .as("placed"))
          .orderBy(col("k"))
          .localCheckpoint()
      } finally Cassandra.drop(name)
    }),

    "p_nanomsg_roundtrip" -> ((s, d) => {
      // nanomsg contract (internal/impl/nanomsg over the public
      // SP-over-TCP mapping): documents PUSH through the protocol-id
      // handshake and u64 framing, a PULL bounded drain reads them
      // back. Receiver-side SUB filtering / pairing validation live
      // in NanomsgSpec.
      import graft.sources.Nanomsg
      val push = new Nanomsg.BindSocket("PUSH")
      try {
        val docs = Tables.documents(s, d).filter(col("doc_id") < 350)
          .select(to_json(struct(col("doc_id"), col("lang"),
            col("n_chars"))).as("value"))
          .orderBy(get_json_object(col("value"), "$.doc_id").cast("long"))
          .collect() // bounded fixture feed (≤350 messages)
        val feeder = new Thread(() => {
          try {
            push.awaitPeers(1)
            docs.foreach(r => push.send(r.getString(0).getBytes("UTF-8")))
          } catch { case _: Exception => () }
        })
        feeder.setDaemon(true)
        feeder.start()
        Nanomsg.read(s, "127.0.0.1", push.port, "PULL", docs.length)
          .select(
            get_json_object(col("value"), "$.doc_id").cast("long")
              .as("doc_id"),
            get_json_object(col("value"), "$.lang").as("lang"),
            get_json_object(col("value"), "$.n_chars").cast("long")
              .as("n_chars"))
          .orderBy(col("doc_id"))
          .localCheckpoint()
      } finally push.close()
    }),

    "p_zmq_roundtrip" -> ((s, d) => {
      // zmq4 contract (internal/impl/zeromq over ZMTP 3.0, the public
      // ZeroMQ transport, on real TCP sockets): documents PUSH
      // through the greeting/NULL/READY handshake and frame codec
      // (LONG frames included via the JSON payloads) and a PULL
      // bounded drain reads them back. PUB/SUB filtering, multipart,
      // pair validation live in ZmtpSpec.
      import graft.sources.Zmtp
      val push = new Zmtp.BindSocket("PUSH")
      try {
        val docs = Tables.documents(s, d).filter(col("doc_id") < 400)
          .select(to_json(struct(col("doc_id"), col("lang"),
            col("n_chars"))).as("value"))
          .orderBy(get_json_object(col("value"), "$.doc_id").cast("long"))
          .collect() // bounded fixture feed (≤400 messages)
        val feeder = new Thread(() => {
          try {
            push.awaitPeers(1)
            docs.foreach(r =>
              push.send(Seq(r.getString(0).getBytes("UTF-8"))))
          } catch { case _: Exception => () }
        })
        feeder.setDaemon(true)
        feeder.start()
        Zmtp.read(s, "127.0.0.1", push.port, "PULL", docs.length)
          .select(
            get_json_object(col("value"), "$.doc_id").cast("long")
              .as("doc_id"),
            get_json_object(col("value"), "$.lang").as("lang"),
            get_json_object(col("value"), "$.n_chars").cast("long")
              .as("n_chars"))
          .orderBy(col("doc_id"))
          .localCheckpoint()
      } finally push.close()
    }),

    "s_cyborgdb_roundtrip" -> ((s, d) => {
      // cyborgdb contract (internal/impl/cyborgdb — "all vector data
      // is encrypted client-side before being sent to the server"):
      // embeddings seal per item under AES-256-GCM with the index key
      // (id as authenticated data), the loopback index verifies it
      // never receives a parseable plaintext vector, and a fetch +
      // client-side unseal must reproduce every vector exactly.
      import graft.sinks.CyborgDb
      val name = "cy_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val svc = CyborgDb.register(name, "api-k3y")
      val url = s"mem://$name"
      val indexKey = Array.tabulate[Byte](32)(i => (i * 11 + 3).toByte)
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      CyborgDb.write(emb, url, "api-k3y", "emb", indexKey, "upsert",
        col("vec_id"), col("embedding"))
      require(svc.plaintextSeen == 0, "cyborgdb: plaintext reached the server")
      require(svc.rejected == 0, "cyborgdb: auth rejections")
      val ids = (0L until 300L).map(_.toString)
      val got = CyborgDb.fetch(url, "api-k3y", "emb", indexKey, ids)
      val rows = got.toSeq.map { case (id, plain) =>
        org.apache.spark.sql.Row(id.toLong, plain)
      }
      val df = s.createDataFrame(
        s.sparkContext.parallelize(rows, 4),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("plain",
            org.apache.spark.sql.types.StringType))))
      val out = df.select(col("vec_id"),
          from_json(get_json_object(col("plain"), "$.vector"),
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)).as("embedding"))
        .select(col("vec_id"),
          round(aggregate(col("embedding"),
            lit(0.0), (acc, x) => acc + x.cast("double")), 4)
            .as("vec_sum"))
        .orderBy(col("vec_id"))
        .localCheckpoint()
      CyborgDb.drop(name)
      out
    }),

    "p_sftp_roundtrip" -> ((s, d) => {
      // sftp contract (internal/impl/sftp over the PUBLIC SSH2 + SFTP
      // v3 protocols, hand-rolled on JDK X25519/Ed25519/AES-CTR/HMAC
      // primitives): every executor partition performs the FULL
      // handshake over a real TCP socket — curve25519-sha256 kex,
      // host-key signature verification, encrypted+MAC'd packets,
      // password auth, session channel, sftp subsystem — then uploads
      // one file per message; the input walks OPENDIR/READDIR and
      // re-downloads each file whole. KDF/signature/framing contracts
      // live in SftpSpec.
      import graft.sources.Sftp
      val server = new Sftp.Server(user = "graft", password = "s3cr3t")
      val port = server.start()
      try {
        val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
          .select(to_json(struct(col("doc_id"), col("lang"),
            col("n_chars"))).as("value"),
            concat(lit("/in/doc_"), col("doc_id"), lit(".json")).as("p"))
          .repartition(4)
        Sftp.write(docs, "127.0.0.1", port, "graft", "s3cr3t", col("p"))
        Sftp.read(s, "127.0.0.1", port, "graft", "s3cr3t", "/in")
          .select(
            get_json_object(col("value"), "$.doc_id").cast("long")
              .as("doc_id"),
            get_json_object(col("value"), "$.lang").as("lang"),
            get_json_object(col("value"), "$.n_chars").cast("long")
              .as("n_chars"))
          .orderBy(col("doc_id"))
          .localCheckpoint()
      } finally server.stop()
    }),

    "p_drive_search" -> ((s, d) => {
      // google_drive_search + download contract (internal/impl/google
      // over the public Drive v3 REST API): per-message name-contains
      // searches paginate via nextPageToken, the message becomes the
      // file-resource array, and a download pass fetches each id's
      // media — both halves exercised end to end against the
      // loopback drive.
      import graft.sources.GoogleDrive
      val name = "gd_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val svc = GoogleDrive.register(name, "drive-t0ken", pageSize = 64)
      val url = s"mem://$name"
      Tables.documents(s, d).filter(col("doc_id") < 400)
        .select(col("doc_id"), col("lang"),
          to_json(struct(col("doc_id"), col("lang"),
            col("n_chars"))).as("body"))
        .collect() // bounded fixture seed (≤400 files)
        .foreach { r =>
          svc.add(s"id-${r.getLong(0)}",
            s"doc_${r.getLong(0)}_${r.getString(1)}.json",
            "application/json", r.getString(2))
        }
      // one search per document keyed by its unique file name, then
      // download the matched id — the search → download pipeline the
      // reference documents as its flagship example
      val queries = Tables.documents(s, d).filter(col("doc_id") < 400)
        .select(col("doc_id"),
          concat(lit("name contains 'doc_"), col("doc_id"), lit("_'"))
            .as("q"), lit("").as("value"))
        .repartition(4)
      val searched = GoogleDrive.searchProcessor(queries, url,
          "drive-t0ken", col("q"))
        .select(col("doc_id"),
          get_json_object(col("value"), "$[0].id").as("fid"),
          col("value").as("value"))
      val out = GoogleDrive.downloadProcessor(searched, url,
          "drive-t0ken", col("fid"))
        .select(col("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"),
          get_json_object(col("value"), "$.n_chars").cast("long")
            .as("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      require(svc.rejected == 0, "drive: auth rejections")
      GoogleDrive.drop(name)
      out
    }),

    "p_bigquery_select" -> ((s, d) => {
      // gcp_bigquery_select contract (processor_bigquery_select.go
      // over the public jobs.query REST shape): positional parameters
      // bind as typed queryParameters, each message is REPLACED by
      // the JSON array of result rows, and pageToken continuations
      // drain multi-page results (pageSize=64 loopback). Bearer auth
      // checked per request.
      import graft.sources.BigQuerySelect
      import graft.sources.BigQuerySelect.QueryParts
      val name = "bqs_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val svc = BigQuerySelect.register(name, "bq-t0ken", pageSize = 64)
      val seed = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id").cast("string"), col("lang"),
          col("n_chars").cast("string"))
        .orderBy(col("doc_id").cast("long")).collect()
        .map(r => Seq(r.getString(0), r.getString(1), r.getString(2)))
      svc.seed("docs", Seq("doc_id", "lang", "n_chars"), seed.toSeq)
      // pagination contract: a single whole-table select drains
      // 500 rows through 64-row pages
      val cl = new BigQuerySelect.Client(s"mem://$name", "bq-t0ken",
        "graft-proj")
      val (_, allRows) = cl.query("SELECT * FROM docs", Nil)
      require(allRows.size == seed.length && svc.pagesServed >= 7,
        s"bigquery: expected paginated drain, got ${svc.pagesServed} pages")
      val out = BigQuerySelect.processor(
          Tables.documents(s, d).filter(col("doc_id") < 500)
            .select(col("doc_id"),
              col("doc_id").cast("string").as("k"),
              lit("").as("value"))
            .repartition(4),
          s"mem://$name", "bq-t0ken", "graft-proj",
          QueryParts("docs", Seq("lang", "n_chars"), where = "doc_id = ?"),
          Seq(col("k")))
        .select(col("doc_id"),
          get_json_object(col("value"), "$[0].lang").as("lang"),
          get_json_object(col("value"), "$[0].n_chars").cast("long")
            .as("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      require(svc.rejected == 0, "bigquery: auth rejections")
      BigQuerySelect.drop(name)
      out
    }),

    "p_cosmosdb_docs" -> ((s, d) => {
      // azure_cosmosdb contract (internal/impl/azure/cosmosdb over
      // the public REST protocol): documents upsert under their
      // partition key with the master-key Authorization RE-DERIVED
      // per request by the loopback account, doc_id % 9 == 0 docs
      // REPLACEd with bumped payloads, % 11 == 0 DELETEd, then a
      // parameterized cross-partition SQL query reads the surviving
      // state back. Conflict/404/query-shape contracts live in
      // CosmosDbSpec.
      import graft.sources.CosmosDb
      val name = "cdb_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val acct = CosmosDb.Account(
        java.util.Base64.getEncoder.encodeToString(
          "cosmos-master-key-material!!".getBytes("UTF-8")))
      val svc = CosmosDb.register(name, acct)
      val url = s"mem://$name"
      val base = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("lang"),
          to_json(struct(col("doc_id").cast("string").as("id"),
            col("lang"), col("n_chars"))).as("value"))
        .repartition(4)
      CosmosDb.processor(base, url, acct, "lake", "docs", "upsert",
        col("lang"), col("doc_id")).count()
      CosmosDb.processor(
        base.filter(col("doc_id") % 9 === 0)
          .withColumn("value", to_json(struct(
            col("doc_id").cast("string").as("id"), col("lang"),
            (get_json_object(col("value"), "$.n_chars").cast("long") + 500)
              .as("n_chars")))),
        url, acct, "lake", "docs", "replace",
        col("lang"), col("doc_id")).count()
      CosmosDb.processor(base.filter(col("doc_id") % 11 === 0),
        url, acct, "lake", "docs", "delete",
        col("lang"), col("doc_id")).count()
      require(svc.rejected == 0, "cosmosdb: auth rejections")
      val cl = new CosmosDb.Client(url, acct, "lake", "docs")
      val rows = cl.query("SELECT * FROM c", Map.empty)
        .map(org.apache.spark.sql.Row(_))
      val df = s.createDataFrame(
        s.sparkContext.parallelize(rows, 4),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.StringType))))
      val out = df.select(
          get_json_object(col("value"), "$.id").cast("long").as("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"),
          get_json_object(col("value"), "$.n_chars").cast("long")
            .as("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      CosmosDb.drop(name)
      out
    }),

    "p_lambda_invoke" -> ((s, d) => {
      // aws_lambda contract (lambda/processor.go over the public
      // Invoke REST shape, SigV4 service=lambda, signature VERIFIED
      // per request): the message is the payload, the invocation
      // result becomes the content; function errors
      // (X-Amz-Function-Error) land on the error channel — covered in
      // AwsApiSpec.
      import graft.sources.AwsApi
      import graft.sources.S3.Credentials
      val name = "lam_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val creds = Credentials("AKIDL", "lambda-secret", "us-east-1")
      val svc = AwsApi.registerLambda(name, creds,
        s => s"${s.length}:${s.toUpperCase}")
      val docs = Tables.documents(s, d).filter(col("doc_id") < 350)
        .select(col("doc_id"),
          concat(col("lang"), lit("/"), col("n_chars")).as("value"))
        .repartition(4)
      val out = AwsApi.lambdaProcessor(docs, s"mem://$name", creds,
          "graft-fn")
        .select(col("doc_id"), col("value").as("reply"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      require(svc.rejected == 0, "lambda: signature rejections")
      AwsApi.drop(name)
      out
    }),

    "p_serverless_handler" -> ((s, d) => {
      // serverless entry point end-to-end (cmd/serverless/
      // connect-lambda + internal/serverless/handler.go): the Lambda
      // event is a JSON array of documents rows; the handler splits it
      // (unarchive json_array), maps each message, and the DEFAULTED
      // output (errored→reject, else sync_response) returns the batch
      // as the invocation result — parsed back into rows and
      // hash-matched against the SQL oracle. One invocation drives the
      // whole handler path, so the gate stays cheap while the result
      // value covers handler.go's batch-array shaping.
      import org.apache.spark.sql.types._
      val rows = Tables.documents(s, d).filter(col("doc_id") < 300)
        .select(to_json(struct(col("doc_id"), col("lang"),
          col("n_chars"))).as("j"))
        .orderBy(col("doc_id"))
        .collect().map(_.getString(0)) // ≤300 small rows: the EVENT body
      val event = rows.mkString("[", ",", "]")
      val handler = new graft.serverless.Lambda.Handler(s,
        """pipeline:
          |  processors:
          |    - unarchive:
          |        format: json_array
          |    - mapping: |
          |        root.doc_id = this.doc_id
          |        root.lang = this.lang
          |        root.big = this.n_chars > 500
          |""".stripMargin)
      val result = handler.handle(event) match {
        case Right(r) => r
        case Left(e) => throw new IllegalStateException(s"handler: $e")
      }
      import s.implicits._
      val schema = ArrayType(StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("big", BooleanType))))
      s.createDataset(Seq(result)).toDF("r")
        .select(explode(from_json(col("r"), schema)).as("m"))
        .select(col("m.doc_id"), col("m.lang"), col("m.big"))
        .orderBy(col("doc_id"))
    }),

    "p_rag_ingest" -> ((s, d) =>
      // the RAG trio's ingestion config verbatim (config/rag/ingestion/
      // redpanda-docs.yaml): a real git repo fixture → git input
      // (include/exclude globs, max_file_size, full git_* metadata) →
      // whole-metadata rename + is_binary drop → kafka_franz output
      // with metadata include_patterns as record headers — read back
      // from the topic by the stripped file_path header. Planted
      // excluded/binary/oversize files must be absent.
      graft.config.Rag.ingestE2E(s, d)),

    "p_rag_e2e" -> ((s, d) =>
      // the reference's RAG trio end-to-end through config templates
      // (templating.adoc + config/rag/): kafka-seeded documents →
      // indexing/openai_pgvector.yaml (rag_topics/oai_embed/pgvector
      // templates expand through the Bloblang engine) → pgvector
      // store → retrieval/openai_pgvector.yaml served over a real
      // HTTP socket. Returned rows = the store's single-chunk docs
      // (oracle-exact); multi-chunk reassembly and retrieval ranking
      // are require()-asserted inside graft.config.Rag.e2e.
      graft.config.Rag.e2e(s, d)),

    "p_dynamodb_partiql" -> ((s, d) => {
      // aws_dynamodb_partiql contract (processor_partiql.go over the
      // public ExecuteStatement JSON-1.0 shape, SigV4
      // service=dynamodb): INSERT statements bind positional ? params
      // as AttributeValues, then SELECTs read the items back — the
      // response AttributeValue envelopes parse relationally.
      import graft.sources.AwsApi
      import graft.sources.S3.Credentials
      val name = "ddb_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val creds = Credentials("AKIDD", "dynamo-secret", "us-east-1")
      val svc = AwsApi.registerDynamo(name, creds)
      val docs = Tables.documents(s, d).filter(col("doc_id") < 400)
        .select(col("doc_id"),
          col("doc_id").cast("string").as("k"),
          concat(col("lang"), lit("|"), col("n_chars")).as("v"))
        .repartition(4)
      AwsApi.partiqlProcessor(
        docs.withColumn("value", lit("")), s"mem://$name", creds,
        """INSERT INTO "docs" VALUE {'k': ?, 'v': ?}""",
        Seq(col("k"), col("v"))).count()
      val out = AwsApi.partiqlProcessor(
          docs.withColumn("value", lit("")), s"mem://$name", creds,
          """SELECT * FROM "docs" WHERE k = ?""", Seq(col("k")))
        .select(col("doc_id"),
          get_json_object(col("value"), "$.Items[0].v.S").as("stored"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      require(svc.rejected == 0, "dynamodb: signature rejections")
      AwsApi.drop(name)
      out
    }),

    "p_gcs_roundtrip" -> ((s, d) => {
      // gcp_cloud_storage contract (internal/impl/gcp over the public
      // Cloud Storage JSON API): media uploads with URL-encoded
      // object names, bearer auth checked per request, list pagination
      // via nextPageToken at maxResults=64 walked to exhaustion,
      // alt=media reads fanned per partition.
      import graft.sources.Gcs
      val name = "gcs_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val svc = Gcs.register(name, "gcs-t0ken")
      val url = s"mem://$name"
      val docs = Tables.documents(s, d).filter(col("doc_id") < 350)
        .select(to_json(struct(col("doc_id"), col("lang"),
          col("n_chars"))).as("value"),
          concat(lit("in/doc "), col("doc_id"), lit(".json")).as("p"))
        .repartition(4)
      Gcs.write(docs, url, "gcs-t0ken", "lake", col("p"))
      require(svc.rejected == 0, "gcs: auth rejections")
      val out = Gcs.read(s, url, "gcs-t0ken", "lake", prefix = "in/",
          maxResultsPerPage = 64)
        .select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"),
          get_json_object(col("value"), "$.n_chars").cast("long")
            .as("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      Gcs.drop(name)
      out
    }),

    "p_azure_blob" -> ((s, d) => {
      // azure_blob_storage contract (internal/impl/azure over the
      // public Blob REST protocol): every PUT/GET/LIST carries the
      // documented Shared Key signature — 14-line string-to-sign,
      // canonicalized x-ms-* headers, canonicalized resource with
      // sorted query lines — and the loopback service RE-DERIVES it
      // before acting. Listing walks NextMarker pages at
      // maxresults=64. Signature edge cases live in AzureBlobSpec.
      import graft.sources.AzureBlob
      val name = "az_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val acct = AzureBlob.Account("graftacct",
        java.util.Base64.getEncoder.encodeToString(
          "azure-account-key-32-bytes!!".getBytes("UTF-8")))
      val svc = AzureBlob.register(name, acct)
      val url = s"mem://$name"
      val docs = Tables.documents(s, d).filter(col("doc_id") < 450)
        .select(to_json(struct(col("doc_id"), col("lang"),
          col("n_chars"))).as("value"),
          concat(lit("in/doc_"), col("doc_id"), lit(".json")).as("p"))
        .repartition(4)
      AzureBlob.write(docs, url, acct, "lake", col("p"))
      require(svc.rejected == 0, "azure: signature rejections")
      val out = AzureBlob.read(s, url, acct, "lake", prefix = "in/",
          maxResultsPerPage = 64)
        .select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"),
          get_json_object(col("value"), "$.n_chars").cast("long")
            .as("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      AzureBlob.drop(name)
      out
    }),

    "p_s3_roundtrip" -> ((s, d) => {
      // aws_s3 contract (internal/impl/aws over the public S3 REST
      // protocol): every PUT/GET/LIST is SigV4-SIGNED and the
      // loopback service RE-DERIVES and verifies each signature
      // (canonical request, signing-key chain, payload sha256) before
      // acting; the input walks ListObjectsV2 with max-keys=64 so
      // continuation-token pagination is exercised for real. Signing
      // vectors and edge cases live in S3Spec.
      import graft.sources.S3
      val name = "s3_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val creds = S3.Credentials("AKIDGRAFT", "graft-secret-key",
        "us-east-1")
      val svc = S3.register(name, creds)
      val url = s"mem://$name"
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(to_json(struct(col("doc_id"), col("lang"),
          col("n_chars"))).as("value"),
          concat(lit("docs/doc_"), col("doc_id"), lit(".json")).as("p"))
        .repartition(4)
      S3.write(docs, url, creds, "lake", col("p"))
      require(svc.rejected == 0, "s3: signature rejections")
      val out = S3.read(s, url, creds, "lake", prefix = "docs/",
          maxKeysPerPage = 64)
        .select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"),
          get_json_object(col("value"), "$.n_chars").cast("long")
            .as("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      S3.drop(name)
      out
    }),

    "p_crdb_changefeed" -> ((s, d) => {
      // cockroachdb_changefeed contract (input_changefeed.go): the
      // statement text builds exactly as the engine's (UPDATED forced,
      // user CURSOR stripped under a cursor cache), the in-memory
      // MVCC cluster parses it back, and the no-cursor run delivers
      // the full-state backfill — latest value per key with its MVCC
      // timestamp. Message shape is the reference's stringified
      // {table, primary_key, row}. Cursor-resume contracts live in
      // CockroachSpec.
      import graft.sources.Cockroach
      val cluster = new Cockroach.MemCluster
      Tables.orders(s, d).filter(col("o_orderkey") < 1100)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey").collect()
        .foreach { r =>
          cluster.upsert("orders", s"[${r.getLong(0)}]",
            s"""{"k":${r.getLong(0)},"status":"${r.getString(1)}","price":${r.getDouble(2)}}""")
          if (r.getLong(0) % 8 == 0)
            cluster.upsert("orders", s"[${r.getLong(0)}]",
              s"""{"k":${r.getLong(0)},"status":"${r.getString(1)}","price":${r.getDouble(2) + 7.0}}""")
        }
      val store = new graft.sources.Cursors.MemStore()
      Cockroach.read(s, cluster.feed, Seq("orders"),
          cursorStore = store)
        .select(
          get_json_object(col("value"), "$.table").as("tbl"),
          get_json_object(get_json_object(col("value"), "$.row"),
            "$.after.k").cast("long").as("o_orderkey"),
          get_json_object(get_json_object(col("value"), "$.row"),
            "$.after.status").as("o_orderstatus"),
          get_json_object(get_json_object(col("value"), "$.row"),
            "$.after.price").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
        .localCheckpoint()
    }),

    "p_git_files" -> ((s, d) => {
      // git contract (internal/impl/git over the public on-disk
      // object formats): a REAL repository (git CLI fixture, gc'd so
      // history lives in a packfile) is read back by the NATIVE
      // object-store reader — idx v2 lookup, delta resolution, tree
      // walk, one message per file. Poller diff/tombstone contracts
      // live in GitRepoSpec.
      import graft.sources.GitRepo
      val dir = java.nio.file.Files.createTempDirectory("graft_git_gate")
      def sh(cmd: String*): Unit = {
        val pb = new ProcessBuilder(cmd: _*)
        pb.directory(dir.toFile)
        pb.environment().put("GIT_AUTHOR_NAME", "g")
        pb.environment().put("GIT_AUTHOR_EMAIL", "g@x")
        pb.environment().put("GIT_COMMITTER_NAME", "g")
        pb.environment().put("GIT_COMMITTER_EMAIL", "g@x")
        pb.redirectErrorStream(true)
        val p = pb.start()
        val out = new String(p.getInputStream.readAllBytes())
        require(p.waitFor() == 0, s"git fixture: $out")
      }
      sh("git", "init", "-q", "-b", "main")
      Tables.documents(s, d).filter(col("doc_id") < 300)
        .select(col("doc_id"), to_json(struct(col("doc_id"), col("lang"),
          col("n_chars"))).as("v"))
        .collect() // bounded fixture seed (≤300 files)
        .foreach { r =>
          java.nio.file.Files.writeString(
            dir.resolve(s"doc_${r.getLong(0)}.json"), r.getString(1))
        }
      sh("git", "add", "-A")
      sh("git", "commit", "-q", "-m", "seed")
      sh("git", "gc", "-q", "--aggressive", "--prune=now")
      GitRepo.read(s, dir.toString, "main", include = Seq("*.json"))
        .select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"),
          get_json_object(col("value"), "$.n_chars").cast("long")
            .as("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }),

    "p_a2a_message" -> ((s, d) => {
      // a2a_message contract (internal/impl/a2a over the public A2A
      // JSON-RPC protocol): agent-card resolution, message/send with
      // text parts, tasks/get polling to the terminal state, and
      // extract_text over the final agent message — against a
      // deterministic loopback agent whose transform the oracle
      // recomputes in SQL. Direct-message replies, error objects and
      // id-echo contracts live in A2aSpec.
      import graft.operators.A2a
      val name = "a2a_" + java.util.UUID.randomUUID.toString.replace("-", "")
      A2a.register(name, s => s.toUpperCase.reverse, workPolls = 2)
      val docs = Tables.documents(s, d).filter(col("doc_id") < 400)
        .select(col("doc_id"),
          concat(col("lang"), lit("-"), col("n_chars")).as("value"))
        .repartition(4)
      // pollDelayMs=0: the loopback agent completes deterministically
      // after two polls — sleeping between them measures nothing
      val out = A2a.processor(docs, s"mem://$name/card", pollDelayMs = 0)
        .select(col("doc_id"), col("value").as("reply"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      A2a.drop(name)
      out
    }),

    "p_arc_write" -> ((s, d) => {
      // arc contract (internal/impl/arc/output.go over the public
      // msgpack ingestion endpoint): events transpose into columnar
      // records grouped by interpolated measurement (event_type),
      // encode through the engine's own msgpack wire codec, POST with
      // bearer + database headers, and the loopback service decodes
      // and UN-transposes — equal-length validation and the bytes
      // themselves are the gate. Row format / gzip / mismatch
      // rejection live in ArcSpec.
      import graft.sinks.Arc
      val name = "arc_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val svc = Arc.named(name)
      val docs = Tables.events(s, d).filter(col("event_id") < 2500)
        .select(col("event_type"),
          to_json(struct(col("event_id"), col("value"))).as("value"))
        .repartition(4)
      Arc.write(docs, s"mem://$name", "metrics", col("event_type"),
        token = "arc-t0ken")
      val types = Tables.events(s, d).filter(col("event_id") < 2500)
        .select("event_type").distinct().collect().map(_.getString(0))
      val rows = types.flatMap { t =>
        svc.rows("metrics", t).map(v => org.apache.spark.sql.Row(t, v))
      }
      val df = s.createDataFrame(
        s.sparkContext.parallelize(rows.toSeq, 4),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.StringType))))
      val out = df.select(col("event_type"),
          get_json_object(col("value"), "$.event_id").cast("long")
            .as("event_id"),
          get_json_object(col("value"), "$.value").cast("double")
            .as("value"))
        .orderBy(col("event_id"))
        .localCheckpoint()
      Arc.drop(name)
      out
    }),

    "p_timeplus_roundtrip" -> ((s, d) => {
      // timeplus contract (internal/impl/timeplus over the public
      // REST + SSE API): events ingest as columnar {columns,data}
      // POSTs, then the query input parses the text/event-stream
      // response — `query` metadata event with the column header,
      // then unnamed events each carrying a JSON ARRAY of row arrays
      // that unpack into one message per row. Path shapes / SSE
      // framing edge cases live in TimeplusSpec.
      import graft.sources.Timeplus
      val name = "tp_" + java.util.UUID.randomUUID.toString.replace("-", "")
      Timeplus.named(name)
      val url = s"mem://$name"
      val docs = Tables.events(s, d).filter(col("event_id") < 3000)
        .select(to_json(struct(col("event_id"), col("event_type"),
          col("value"))).as("value"))
        .repartition(4)
      Timeplus.write(docs, url, "iot",
        Seq("event_id", "event_type", "value"), apikey = "k3y")
      val out = Timeplus.read(s, url, "select * from iot")
        .select(
          get_json_object(col("value"), "$.event_id").cast("long")
            .as("event_id"),
          get_json_object(col("value"), "$.event_type").as("event_type"),
          get_json_object(col("value"), "$.value").cast("double")
            .as("value"))
        .orderBy(col("event_id"))
        .localCheckpoint()
      Timeplus.drop(name)
      out
    }),

    "p_couchbase_kv" -> ((s, d) => {
      // couchbase contract (processor.go over the public KV binary
      // protocol with CRC32 vbucket routing, validated server-side):
      // upsert documents, REPLACE every doc_id % 6 == 0 with a bumped
      // payload, REMOVE every doc_id % 11 == 0, then a GET sweep
      // replaces message content for live keys and errors the removed
      // ones — the surviving rows fold relationally. Frame layout /
      // status / TCP contracts live in CouchbaseSpec.
      import graft.sources.Couchbase
      val name = "cb_" + java.util.UUID.randomUUID.toString.replace("-", "")
      Couchbase.named(name)
      val url = s"mem://$name"
      val base = Tables.documents(s, d).filter(col("doc_id") < 600)
        .select(col("doc_id"), to_json(struct(col("doc_id"), col("lang"),
          col("n_chars"))).as("value"))
        .repartition(4)
      Couchbase.processor(base, url, "upsert", col("doc_id")).count()
      Couchbase.processor(
        base.filter(col("doc_id") % 6 === 0)
          .withColumn("value", to_json(struct(col("doc_id"),
            get_json_object(col("value"), "$.lang").as("lang"),
            (get_json_object(col("value"), "$.n_chars").cast("long") + 50)
              .as("n_chars")))),
        url, "replace", col("doc_id")).count()
      Couchbase.processor(base.filter(col("doc_id") % 11 === 0),
        url, "remove", col("doc_id")).count()
      val out = Couchbase.processor(base.select(col("doc_id"),
          lit(null).cast("string").as("value")), url, "get", col("doc_id"))
        .filter(col("error").isNull)
        .select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"),
          get_json_object(col("value"), "$.n_chars").cast("long")
            .as("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      Couchbase.drop(name)
      out
    }),

    "p_oracle_cdc" -> ((s, d) => {
      // oracledb_cdc contract (internal/impl/oracledb over LogMiner's
      // public SQL_REDO text surface): a recorded V$LOGMNR_CONTENTS
      // stream — interleaved transactions, partial-column updates
      // (SET carries only changed columns, WHERE the key + one old
      // column), deletes, and one ROLLED-BACK transaction that must
      // vanish — parses through the redo-SQL parser, buffers per XID,
      // emits on COMMIT, and folds with per-column last-non-null
      // merge (partial updates patch, not replace). Parser matrix /
      // txn-cache / low-watermark contracts live in OracleCdcSpec.
      import graft.sources.OracleCdc
      import graft.sources.OracleCdc._
      val seed = Tables.orders(s, d).filter(col("o_orderkey") < 1000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
        .orderBy("o_orderkey").collect()
      val rows = Vector.newBuilder[RedoRow]
      var scn = 100L
      def next(): Long = { scn += 1; scn }
      seed.grouped(200).zipWithIndex.foreach { case (batch, bi) =>
        val xid = s"ins$bi"
        rows += RedoRow(next(), xid, 6, "")
        batch.foreach { r =>
          rows += RedoRow(next(), xid, 1, Fixture.insert("shop", "orders",
            Seq("o_orderkey" -> r.getLong(0),
              "o_orderstatus" -> r.getString(1),
              "o_totalprice" -> r.getDouble(2),
              "o_orderpriority" -> r.getString(3))))
        }
        rows += RedoRow(next(), xid, 7, "")
      }
      // interleaved: updates txn opens first, deletes txn commits first
      rows += RedoRow(next(), "upd", 6, "")
      val (updates, rest) = seed.partition(r =>
        r.getLong(0) % 9 == 0 && r.getLong(0) % 13 != 0)
      val deletes = rest.filter(_.getLong(0) % 13 == 0)
      updates.take(updates.length / 2).foreach { r =>
        rows += RedoRow(next(), "upd", 3, Fixture.update("shop", "orders",
          Seq("o_totalprice" -> (r.getDouble(2) + 5.0)),
          Seq("o_orderkey" -> r.getLong(0),
            "o_orderstatus" -> r.getString(1))))
      }
      rows += RedoRow(next(), "del", 6, "")
      deletes.foreach { r =>
        rows += RedoRow(next(), "del", 2, Fixture.delete("shop", "orders",
          Seq("o_orderkey" -> r.getLong(0))))
      }
      rows += RedoRow(next(), "del", 7, "")
      updates.drop(updates.length / 2).foreach { r =>
        rows += RedoRow(next(), "upd", 3, Fixture.update("shop", "orders",
          Seq("o_totalprice" -> (r.getDouble(2) + 5.0)),
          Seq("o_orderkey" -> r.getLong(0),
            "o_orderstatus" -> r.getString(1))))
      }
      rows += RedoRow(next(), "upd", 7, "")
      // rolled back: a price rewrite that must NOT surface
      rows += RedoRow(next(), "rb", 6, "")
      seed.filter(_.getLong(0) % 5 == 0).foreach { r =>
        rows += RedoRow(next(), "rb", 3, Fixture.update("shop", "orders",
          Seq("o_totalprice" -> 999999.0),
          Seq("o_orderkey" -> r.getLong(0))))
      }
      rows += RedoRow(next(), "rb", 36, "")
      val chg = OracleCdc.changes(s, rows.result(), "orders",
        Seq("o_orderkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority"))
      // per-column last-non-null merge ordered by emission: partial
      // updates PATCH the row, the final op decides survival
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderkey")).orderBy(col("__ord"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val valueCols = Seq("o_orderstatus", "o_totalprice", "o_orderpriority")
      val merged = chg.select(
        (Seq(col("o_orderkey"), col("__ord"),
          last(col("__op"), ignoreNulls = false).over(w).as("__final_op")) ++
          valueCols.map(c =>
            last(col(c), ignoreNulls = true).over(w).as(c))): _*)
      val wLast = Window.partitionBy(col("o_orderkey"))
        .orderBy(col("__ord").desc)
      merged.withColumn("__rn", row_number().over(wLast))
        .filter(col("__rn") === 1 && col("__final_op") =!= "d")
        .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),

    "p_cypher_roundtrip" -> ((s, d) => {
      // cypher contract (internal/impl/cypher/output.go over the
      // PUBLIC Bolt 4.4 protocol — PackStream v2, chunked framing,
      // 0x6060B017 handshake, HELLO auth): orders CREATE as nodes
      // through one REAL TCP Bolt connection per partition with
      // parameterized props (the args_mapping shape), then a MATCH …
      // RETURN … ORDER BY reads them back through the same wire.
      // PackStream type-matrix, auth-failure and FAILURE/RESET
      // contracts live in BoltSpec.
      import graft.sinks.CypherGraph
      import graft.sources.Bolt
      val server = new Bolt.Server(user = "neo4j", password = "graftpw")
      val port = server.start()
      try {
        val base = Tables.orders(s, d).filter(col("o_orderkey") < 900)
        CypherGraph.write(base, "127.0.0.1", port, "neo4j", "graftpw",
          "CREATE (o:Order {k: $k, status: $status, price: $price})",
          Seq("k" -> col("o_orderkey"), "status" -> col("o_orderstatus"),
            "price" -> col("o_totalprice")))
        CypherGraph.read(s, "127.0.0.1", port, "neo4j", "graftpw",
            "MATCH (o:Order) RETURN o.k, o.status, o.price ORDER BY o.k",
            "o_orderkey bigint, o_orderstatus string, o_totalprice double")
          .orderBy(col("o_orderkey"))
          .localCheckpoint()
      } finally server.stop()
    }),

    "p_memcached_cache" -> ((s, d) => {
      // memcached contract (internal/impl/memcached/cache.go over the
      // public TEXT protocol): documents stored via real set commands
      // (prefixed namespace), doc_id % 7 == 0 entries given a 60 s
      // TTL, the server clock advanced past it — the hydrated view
      // (lru_crawler metadump + chunked multi-get) must contain
      // exactly the live keys. add/replace/delete/touch/incr
      // semantics and the real-TCP loopback path live in
      // MemcachedSpec.
      import graft.sources.Memcached
      val name = "mc_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val srv = Memcached.named(name)
      val t0 = System.currentTimeMillis()
      srv.now = () => t0
      val cache = new Memcached.Cache(s"mem://$name", prefix = "doc:")
      Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), to_json(struct(col("doc_id"), col("lang"),
          col("n_chars"))).as("v"))
        .collect() // bounded fixture seed (≤500 keys)
        .foreach { r =>
          val ttl = if (r.getLong(0) % 7 == 0) 60L else 0L
          cache.set(r.getLong(0).toString, r.getString(1), ttl)
        }
      srv.now = () => t0 + 120000L // past the 60 s TTL
      val out = Memcached.cacheView(s, s"mem://$name", prefix = "doc:")
        .select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"),
          get_json_object(col("value"), "$.n_chars").cast("long")
            .as("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      Memcached.drop(name)
      out
    }),

    "p_doris_load" -> ((s, d) => {
      // doris_stream_load contract (output_stream_load.go over the
      // public Stream Load HTTP protocol): NDJSON batches PUT against
      // the FE, which 307-redirects to the BE with the body re-PUT
      // there — the loopback service implements both halves, so the
      // redirect handshake, per-request labels and verdict
      // classification all execute. Label-idempotence and group-commit
      // rules live in DorisSpec.
      import graft.sinks.Doris
      val name = "dr_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val svc = Doris.named(name)
      val docs = Tables.documents(s, d).filter(col("doc_id") < 800)
        .select(to_json(struct(col("doc_id"), col("lang"),
          col("n_chars"))).as("value"))
        .repartition(4)
      Doris.write(docs, s"mem://$name",
        Doris.Conf("lake", "docs"), batchSize = 128)
      val rows = svc.rows("lake", "docs").map(org.apache.spark.sql.Row(_))
      val df = s.createDataFrame(
        s.sparkContext.parallelize(rows, 4),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.StringType))))
      val out = df.select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"),
          get_json_object(col("value"), "$.n_chars").cast("long")
            .as("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      Doris.drop(name)
      out
    }),

    "p_hdfs_roundtrip" -> ((s, d) => {
      // hdfs contract (internal/impl/hdfs over WebHDFS, Hadoop's
      // public REST protocol): one file per message through the
      // two-step CREATE (namenode 307 → datanode PUT), then the input
      // LISTSTATUSes the directory and re-reads every file whole via
      // OPEN redirects — the reference's file-per-message model.
      import graft.sources.Hdfs
      val name = "hd_" + java.util.UUID.randomUUID.toString.replace("-", "")
      Hdfs.named(name)
      val url = s"mem://$name"
      val docs = Tables.documents(s, d).filter(col("doc_id") < 400)
        .select(to_json(struct(col("doc_id"), col("lang"),
          col("n_chars"))).as("value"),
          concat(lit("doc_"), col("doc_id"), lit(".json")).as("p"))
        .repartition(4)
      Hdfs.write(docs, url, "/graft/out", col("p"))
      val out = Hdfs.read(s, url, "/graft/out")
        .select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"),
          get_json_object(col("value"), "$.n_chars").cast("long")
            .as("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      Hdfs.drop(name)
      out
    }),

    "p_pusher_events" -> ((s, d) => {
      // pusher contract (output_pusher.go over the public Channels
      // HTTP API): 10-event batch_events POSTs with the documented
      // HMAC-SHA256 request signing — the loopback service VERIFIES
      // every signature and body_md5 before accepting, so the signing
      // path is hash-gated end to end. Channel comes from the event
      // type (the interpolated-channel contract).
      import graft.sinks.Pusher
      val name = "pu_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val svc = Pusher.named(name)
      val events = Tables.events(s, d).filter(col("event_id") < 2000)
        .select(to_json(struct(col("event_id"), col("value"))).as("value"),
          col("event_type"))
        .repartition(4)
      Pusher.write(events, s"mem://$name",
        Pusher.Conf("77", "key", "s3cret", "mt1", "evt"),
        col("event_type"))
      require(svc.rejected == 0, "pusher: signature rejections")
      val rows = svc.events.toSeq.map { case (ch, nm, data) =>
        org.apache.spark.sql.Row(ch, nm, data)
      }
      val df = s.createDataFrame(
        s.sparkContext.parallelize(rows, 4),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("channel",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("name",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("data",
            org.apache.spark.sql.types.StringType))))
      val out = df.select(col("channel"), col("name"),
          get_json_object(col("data"), "$.event_id").cast("long")
            .as("event_id"),
          get_json_object(col("data"), "$.value").cast("double")
            .as("value"))
        .orderBy(col("event_id"))
        .localCheckpoint()
      Pusher.drop(name)
      out
    }),

    "p_questdb_write" -> ((s, d) => {
      // questdb contract (internal/impl/questdb/output.go over the
      // public InfluxDB line protocol, ILP/HTTP): events encode as ILP
      // lines (symbols→tags, doubles forced float, designated
      // timestamp in micros) and an INDEPENDENT decoder parses the
      // wire text back into rows — escaping, i/t/f suffixes, and unit
      // conversion must survive the round-trip exactly. Unit
      // auto-guess boundaries and escape edge cases live in
      // QuestDbSpec.
      import graft.sinks.QuestDb
      // SPARK_GRAFT_QUESTDB_SHARDS=N fans partitions over N loopback
      // endpoints (writeSharded) — the ladder measurement for the
      // "shard servers to scale" claim; rows merge afterwards so the
      // gate output is byte-identical at any shard count
      val shards = sys.env.getOrElse("SPARK_GRAFT_QUESTDB_SHARDS", "1").toInt
      val base = "qd_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val names = (0 until shards).map(i => s"${base}_$i")
      val svcs = names.map(QuestDb.named)
      // the per-row ILP encode+decode dominates this gate; the events
      // scan yields only as many partitions as row groups (4 at sf1),
      // so spread the kernel over every core — conditional (r20): on a
      // multi-split input the exchange would add nothing but cost
      val docs = graft.operators.Spread.spread(Tables.events(s, d)
        .select(to_json(struct(col("event_id"), col("user_id"),
          col("event_type"), col("value"),
          unix_micros(col("ts")).as("ts_us"))).as("value")))
      QuestDb.writeSharded(docs, names.map(n => s"mem://$n"), "events",
        symbols = Set("event_type"), doubles = Set("value"),
        designatedTimestampField = "ts_us",
        designatedTimestampUnit = "micros")
      // re-materialize the decoded rows DISTRIBUTED: tasks read slices
      // of each shard's row buffer by name (same single-JVM registry
      // access pattern as Broker.InMemory) instead of one driver-side
      // flatMap + parallelize of the whole table — at sf1 that driver
      // funnel, not the sink, was the gate's floor
      val specs = names.flatMap { n =>
        val cnt = QuestDb.named(n).rowCount("events")
        val per = math.max(1, (cnt + 7) / 8)
        (0 until cnt by per).map(a => (n, a, math.min(a + per, cnt)))
      }
      val rowsRdd = s.sparkContext
        .parallelize(specs, math.max(specs.size, 1))
        .flatMap { case (n, a, b) =>
          QuestDb.named(n).rowsSlice("events", a, b).map { case (m, ts) =>
            org.apache.spark.sql.Row(
              m("event_id").asInstanceOf[Long],
              m("user_id").asInstanceOf[Long],
              m("event_type").asInstanceOf[String],
              m("value").asInstanceOf[Double],
              ts.map(_ / 1000L).getOrElse(0L))
          }
        }
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id bigint, user_id bigint, event_type string, " +
          "value double, ts_us bigint")
      val out = s.createDataFrame(rowsRdd, schema)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), timestamp_micros(col("ts_us")).as("ts"))
        .orderBy(col("event_id"))
        .localCheckpoint()
      names.foreach(QuestDb.drop)
      out
    }),

    "p_mssql_cdc" -> ((s, d) => {
      // microsoft_sql_server_cdc contract (input_mssqlserver_cdc.go,
      // replication/stream.go — a POLLED SQL surface, not a wire
      // format): change tables + LSN windows + __$operation codes run
      // for REAL against embedded Derby through the dialect seam. A
      // seeded base table plus a scripted change history (update
      // before/after pairs, deletes, late inserts at ascending LSNs)
      // folds through snapshot ∪ window → latest-per-key; the oracle
      // recomputes the same final state relationally. Window/ordering/
      // poller-resume contracts live in MsSqlCdcSpec.
      import graft.sources.MsSqlCdc
      import graft.sources.MsSqlCdc._
      val dir = java.nio.file.Files.createTempDirectory("graft_mssql_cdc")
      val url = s"jdbc:derby:$dir/db;create=true"
      val t = TableRef("shop", "orders")
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        st.execute("CREATE TABLE SHOP_ORDERS (o_orderkey BIGINT, " +
          "o_custkey BIGINT, o_orderstatus VARCHAR(4), " +
          "o_totalprice DOUBLE, o_orderpriority VARCHAR(20))")
        st.execute("CREATE TABLE CDC_SHOP_ORDERS_CT (START_LSN VARCHAR(20), " +
          "SEQVAL VARCHAR(20), OPERATION INT, COMMAND_ID INT, " +
          "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR(4), " +
          "o_totalprice DOUBLE, o_orderpriority VARCHAR(20))")
        // bounded seed (≤1300 rows): test-fixture admission, the
        // snapshot READ side is the distributed JDBC scan
        val seed = Tables.orders(s, d).filter(col("o_orderkey") < 1300)
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderpriority")
          .orderBy("o_orderkey").collect()
        val (base, late) = seed.partition(_.getLong(0) < 1200)
        val ins = conn.prepareStatement(
          "INSERT INTO SHOP_ORDERS VALUES (?, ?, ?, ?, ?)")
        base.foreach { r =>
          ins.setLong(1, r.getLong(0)); ins.setLong(2, r.getLong(1))
          ins.setString(3, r.getString(2)); ins.setDouble(4, r.getDouble(3))
          ins.setString(5, r.getString(4)); ins.executeUpdate()
        }
        val chg = conn.prepareStatement(
          "INSERT INTO CDC_SHOP_ORDERS_CT VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)")
        def change(lsn: String, op: Int, cmd: Int,
                   r: org.apache.spark.sql.Row, delta: Double): Unit = {
          chg.setString(1, lsn); chg.setString(2, lsn)
          chg.setInt(3, op); chg.setInt(4, cmd)
          chg.setLong(5, r.getLong(0)); chg.setLong(6, r.getLong(1))
          chg.setString(7, r.getString(2))
          chg.setDouble(8, r.getDouble(3) + delta)
          chg.setString(9, r.getString(4)); chg.executeUpdate()
        }
        val lsn1 = "0000000000000000002a"
        val lsn2 = "0000000000000000003b"
        val lsn3 = "0000000000000000004c"
        base.filter(_.getLong(0) % 9 == 0).foreach { r =>
          change(lsn1, 3, 0, r, 0.0)  // update_before: old image
          change(lsn1, 4, 1, r, 5.0)  // update_after: price + 5
        }
        base.filter(_.getLong(0) % 13 == 0).foreach(r => change(lsn2, 1, 0, r, 0.0))
        late.foreach(r => change(lsn3, 2, 0, r, 0.0))
      } finally conn.close()
      val to = MsSqlCdc.maxLsn(url, Seq(t), DerbyDialect).get
      MsSqlCdc.currentState(s, url, t, Seq("o_orderkey"), to, DerbyDialect)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
        .localCheckpoint()
    }),

    "p_elastic_bulk" -> ((s, d) => {
      // elasticsearch/opensearch _bulk contract (outputs/
      // elasticsearch_v8.adoc, Search.bulkWrite): documents indexed
      // through real NDJSON bulk bodies, then a second pass UPDATES
      // every doc_id % 4 == 0 via doc_as_upsert merge and a third
      // DELETES every doc_id % 10 == 0 — the final index state is the
      // relational fold the oracle recomputes. Per-item error
      // envelopes live in SearchSpec against an independent loopback
      // HTTP server.
      import graft.sinks.Search
      val name = "es_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val svc = Search.named(name)
      val url = s"mem://$name"
      val base = Tables.documents(s, d).filter(col("doc_id") < 600)
      Search.bulkWrite(
        base.select(to_json(struct(col("doc_id"), col("lang"),
          col("n_chars"))).as("value"), col("doc_id")),
        url, lit("docs"), lit("index"), col("doc_id"))
      Search.bulkWrite(
        base.filter(col("doc_id") % 4 === 0)
          .select(to_json(struct((col("n_chars") + 1000).as("n_chars")))
            .as("value"), col("doc_id")),
        url, lit("docs"), lit("upsert"), col("doc_id"))
      Search.bulkWrite(
        base.filter(col("doc_id") % 10 === 0)
          .select(lit(null).cast("string").as("value"), col("doc_id")),
        url, lit("docs"), lit("delete"), col("doc_id"))
      val rows = svc.rows("docs").map(org.apache.spark.sql.Row(_))
      val df = s.createDataFrame(
        s.sparkContext.parallelize(rows, 4),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.StringType))))
      val out = df.select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"),
          get_json_object(col("value"), "$.n_chars").cast("long")
            .as("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      Search.drop(name)
      out
    }),

    "s_qdrant_topk" -> ((s, d) => {
      // qdrant contract (internal/impl/qdrant over the PUBLIC REST
      // API): collection created with size+distance, embeddings
      // upserted in executor-side batches (vec_id % 50 == 3
      // re-upserted — replace on id), /points/search returns
      // store-side cosine top-k with api-key auth enforced. Exact
      // cosine → the brute-force SQL oracle applies.
      import graft.sinks.Qdrant
      val name = "qdgate_" + java.util.UUID.randomUUID.toString.replace("-", "")
      Qdrant.register(name, "gate-key")
      val url = s"mem://$name"
      Qdrant.createCollection(url, "gate-key", "emb", 64)
      val emb = Tables.embeddings(s, d)
      Qdrant.write(emb, url, "gate-key", "emb", col("vec_id"),
        col("embedding"))
      Qdrant.write(emb.filter(col("vec_id") % 50 === 3), url, "gate-key",
        "emb", col("vec_id"), col("embedding"))
      val out = Qdrant.searchEnrich(emb.filter(col("vec_id") < 10), url,
          "gate-key", "emb", "embedding", 5, "hits")
        .select(col("vec_id").as("query_id"),
          posexplode(col("hits")).as(Seq("rank0", "hit")))
        .select(col("query_id"), (col("rank0") + 1).cast("int").as("rank"),
          col("hit.id").as("neighbor_id"), round(col("hit.score"), 6).as("sim"))
        .orderBy(col("query_id"), col("rank"))
        .localCheckpoint()
      Qdrant.drop(name)
      out
    }),

    "s_pinecone_topk" -> ((s, d) => {
      // pinecone contract (internal/impl/pinecone/output.go over the
      // public data-plane REST shapes): embeddings upserted in
      // executor-side batches, every vec_id % 50 == 3 re-upserted
      // (replace on id), then /query returns store-side cosine top-k
      // for the probe rows — exact cosine, so the brute-force SQL
      // oracle applies (self hit at rank 1). Update-404/delete/
      // namespace isolation live in PineconeSpec.
      import graft.sinks.Pinecone
      val name = "pc_" + java.util.UUID.randomUUID.toString.replace("-", "")
      Pinecone.named(name)
      val url = s"mem://$name"
      val emb = Tables.embeddings(s, d)
      Pinecone.write(emb, url, "upsert-vectors", col("vec_id"),
        col("embedding"), namespace = "emb")
      Pinecone.write(emb.filter(col("vec_id") % 50 === 3), url,
        "upsert-vectors", col("vec_id"), col("embedding"),
        namespace = "emb")
      val out = Pinecone.queryEnrich(emb.filter(col("vec_id") < 10),
          url, "embedding", 5, "hits", namespace = "emb")
        .select(col("vec_id").as("query_id"),
          posexplode(col("hits")).as(Seq("rank0", "hit")))
        .select(col("query_id"), (col("rank0") + 1).cast("int").as("rank"),
          col("hit.id").cast("long").as("neighbor_id"),
          round(col("hit.score"), 6).as("sim"))
        .orderBy(col("query_id"), col("rank"))
        .localCheckpoint()
      Pinecone.drop(name)
      out
    }),

    "p_mongodb_roundtrip" -> ((s, d) => {
      // mongodb contract (internal/impl/mongodb input.go + output.go
      // over the PUBLIC BSON + OP_MSG wire formats, real loopback
      // sockets): documents inserted per-partition through the output
      // (insert-one), then the input walks a FILTERED, SORTED cursor
      // (batchSize forces getMore paging) — selection, operator
      // semantics, and payload fidelity verified relationally. Update/
      // delete/upsert/aggregate live in MongoSpec.
      import graft.sources.Mongo
      val name = "mg_" + java.util.UUID.randomUUID.toString.replace("-", "")
      Mongo.named(name)
      try {
        val docs = Tables.documents(s, d).filter(col("doc_id") < 600)
          .select(to_json(struct(col("doc_id"), col("lang"),
            col("n_chars"))).as("value"))
          .repartition(4)
        Mongo.write(docs, s"mem://$name", "lake", "docs")
        Mongo.read(s, s"mem://$name", "lake", "docs",
            queryJson = """{"n_chars":{"$gte":500}}""",
            sortJson = """{"doc_id":1}""", batchSize = 64)
          .select(
            get_json_object(col("value"), "$.doc_id").cast("long")
              .as("doc_id"),
            get_json_object(col("value"), "$.lang").as("lang"),
            get_json_object(col("value"), "$.n_chars").cast("long")
              .as("n_chars"))
          .orderBy(col("doc_id"))
          .localCheckpoint()
      } finally Mongo.drop(name)
    }),

    "p_bigquery_load" -> ((s, d) => {
      // gcp_bigquery contract (output_bigquery.go over the public
      // jobs.insert REST shape): per-partition NDJSON batches as
      // multipart load jobs, each polled to DONE (PENDING→RUNNING→
      // DONE), landed atomically — the final table contents verified
      // relationally. Disposition semantics are WarehouseSinksSpec's.
      import graft.sinks.BigQuery
      val name = "bq_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val svc = BigQuery.serviceFor(name)
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(to_json(struct(col("doc_id"), col("lang"),
          col("n_chars"))).as("value"))
        .repartition(4)
      BigQuery.write(docs, BigQuery.Conf("graft", "lake", "docs"),
        s"mem://$name", batchSize = 64)
      val rows = svc.rows("lake", "docs").zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.Row(v, Map.empty[String, String], null,
          i.toLong)
      }
      val df = s.createDataFrame(
        s.sparkContext.parallelize(rows, 4),
        graft.sources.BrokerStream.schema)
      df.select(
          get_json_object(col("value"), "$.doc_id").cast("long")
            .as("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"),
          get_json_object(col("value"), "$.n_chars").cast("long")
            .as("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }),

    "p_snowpipe_stream" -> ((s, d) => {
      // snowflake_streaming contract (output_snowflake_streaming.go +
      // streaming/rest.go channel semantics): per-partition channels,
      // staged blobs registered under the writer's client_sequencer,
      // offset-token exactly-once — the SAME frame is written TWICE
      // (a restart replay) and the oracle count proves the duplicate
      // sweep was absorbed by the committed token frontier.
      import graft.sinks.Snowpipe
      val name = "sp_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val svc = Snowpipe.serviceFor(name)
      def frame() = Tables.orders(s, d).filter(col("o_orderkey") < 800)
        .select(
          to_json(struct(col("o_orderkey"), col("o_totalprice")))
            .as("value"),
          lpad(col("o_orderkey").cast("string"), 10, "0")
            .as("__offset_token"), col("o_orderkey"))
        .repartition(4, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
      Snowpipe.write(frame(), s"mem://$name", "lake", "public", "orders",
        channelPrefix = "ch", batchSize = 100)
      // restart replay: identical partitioning → identical channels and
      // tokens → every batch is ≤ the committed frontier and drops
      Snowpipe.write(frame(), s"mem://$name", "lake", "public", "orders",
        channelPrefix = "ch", batchSize = 100)
      val rows = svc.rows("lake", "public", "orders").zipWithIndex
        .map { case (v, i) =>
          org.apache.spark.sql.Row(v, Map.empty[String, String], null,
            i.toLong)
        }
      val df = s.createDataFrame(
        s.sparkContext.parallelize(rows, 4),
        graft.sources.BrokerStream.schema)
      df.select(
          get_json_object(col("value"), "$.o_orderkey").cast("long")
            .as("k"),
          get_json_object(col("value"), "$.o_totalprice").cast("double")
            .as("price"))
        .orderBy(col("k"))
        .localCheckpoint()
    }),

    "p_discord_gateway" -> ((s, d) => {
      // discord GATEWAY contract (the live half of
      // internal/impl/discord/input.go over the public Gateway v10
      // protocol): /gateway/bot URL exchange, HELLO→IDENTIFY→READY,
      // numbered MESSAGE_CREATE dispatches with server-requested
      // heartbeats answered by seq, a forced op 7 RECONNECT every 100
      // dispatches exercising the RESUME replay — every event exactly
      // once, in order, across sessions.
      import graft.sources.DiscordGateway
      val seed = Tables.orders(s, d).filter(col("o_orderkey") < 250)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey").collect()
      val events = seed.map(r =>
        s"""{"id":"${r.getLong(0)}","channel_id":"orders",""" +
          s""""content":"order ${r.getLong(0)}",""" +
          s""""total":${r.getDouble(1)}}""")
      val srv = new DiscordGateway.GatewayServer(events.toSeq,
        "bot-graft", reconnectAfter = 100, heartbeatEvery = 17)
      try {
        DiscordGateway.read(s, "bot-graft", "orders", srv.httpClient)
          .select(
            get_json_object(col("value"), "$.id").cast("long").as("k"),
            get_json_object(col("value"), "$.total").cast("double")
              .as("total"),
            col("metadata")("discord_event_type").as("etype"))
          .orderBy(col("k"))
          .localCheckpoint()
      } finally srv.stop()
    }),

    "p_slack_socket" -> ((s, d) => {
      // slack SOCKET MODE contract (inputs/slack.adoc over the
      // RFC 6455 stack): apps.connections.open → wss URL, hello,
      // events_api envelopes acked one-by-one, a forced disconnect
      // every 100 envelopes exercising the refresh/reconnect flow —
      // the ack frontier must deliver every event exactly once, in
      // order, across connections.
      import graft.sources.SlackSocket
      val seed = Tables.orders(s, d).filter(col("o_orderkey") < 300)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey").collect()
      val events = seed.map(r =>
        s"""{"event":{"type":"order_created",""" +
          s""""order_id":${r.getLong(0)},"total":${r.getDouble(1)}}}""")
      val srv = new SlackSocket.Server(events.toSeq, "xapp-graft",
        disconnectEvery = 100)
      try {
        SlackSocket.read(s, "xapp-graft", srv.httpClient)
          .select(
            get_json_object(col("value"), "$.event.order_id")
              .cast("long").as("order_id"),
            get_json_object(col("value"), "$.event.total")
              .cast("double").as("total"),
            col("metadata")("slack_event_type").as("etype"))
          .orderBy(col("order_id"))
          .localCheckpoint()
      } finally srv.stop()
    }),

    "p_mysql_cdc" -> ((s, d) => {
      // mysql_cdc contract (internal/impl/mysql/input_mysql_stream.go,
      // TYPES.md; wire format is MySQL's public binlog-v4 row events):
      // a recorded binlog — FORMAT_DESCRIPTION/ROTATE/TABLE_MAP/
      // WRITE/UPDATE/DELETE_ROWS v2/XID with packed row images
      // (DATETIME2, packed NEWDECIMAL, ENUM indexes) — is decoded by
      // the wire parser into typed changes and folded to relational
      // state. Decimal canonical strings and enum literal resolution
      // are recomputed by the oracle.
      import graft.sources.MySqlBinlog
      import graft.sources.MySqlBinlog._
      val seed = Tables.orders(s, d).filter(col("o_orderkey") < 1500)
        .select("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority")
        .orderBy("o_orderkey").collect()
      val td = TableDef("shop", "orders", Vector(
        ColDef("o_orderkey", "bigint"), ColDef("o_custkey", "int"),
        ColDef("o_orderstatus", "varchar(4)"),
        ColDef("o_totalprice", "double"),
        ColDef("o_orderdate", "datetime(6)"),
        ColDef("o_dec", "decimal(12,4)"),
        ColDef("o_prio", "enum('1','2','3','4','5')")))
      val schemas = Map("shop.orders" -> td)
      def img(r: org.apache.spark.sql.Row, status: String,
              priceDelta: Double): Seq[Any] = Seq(
        r.getLong(0), r.getLong(1).toInt, status,
        r.getDouble(3) + priceDelta, r.getTimestamp(4),
        s"${r.getLong(1)}.2500", r.getString(5).substring(0, 1))
      val fx = new Fixture()
      val events = Vector.newBuilder[Array[Byte]]
      events += fx.formatDescription()
      events += fx.rotate("binlog.000042")
      events += fx.tableMap(101L, td)
      seed.grouped(100).foreach { batch =>
        events += fx.writeRows(101L, td,
          batch.map(r => img(r, r.getString(2), 0.0)).toSeq)
      }
      events += fx.xid(1L)
      events += fx.tableMap(101L, td)
      events += fx.updateRows(101L, td,
        seed.filter(_.getLong(0) % 9 == 0).map(r =>
          (img(r, r.getString(2), 0.0), img(r, "X", 5.5))).toSeq)
      events += fx.deleteRows(101L, td,
        seed.filter(_.getLong(0) % 11 == 0).map(r =>
          img(r, r.getString(2), 0.0)).toSeq)
      events += fx.xid(2L)
      val typed = MySqlBinlog.typedChanges(s, events.result(), "orders",
        schemas)
      sources.Cdc.latestState(typed, Seq("o_orderkey"), col("__seq"))
        .drop("__seq", "__file", "__pos", "__ts_ms")
        .orderBy("o_orderkey")
    }),

    "p_mongo_cdc" -> ((s, d) => {
      // mongodb_cdc contract (internal/impl/mongodb/cdc/input.go):
      // snapshot-then-stream over the OP_MSG change-stream protocol.
      // Read #1 bucket-shards the seeded collection into a parallel
      // snapshot and checkpoints the post-batch resume token; a
      // recorded workload (inserts / $set+$inc updates / deletes) runs
      // AFTER the checkpoint; read #2 resumes from the token and
      // streams exactly the workload events. Snapshot + stream fold to
      // relational state ordered by the events' cluster-time seq.
      import graft.sources.{Mongo, MongoCdc}
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val name = "cdcgate_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val srv = Mongo.named(name)
      def docJson(r: org.apache.spark.sql.Row): String =
        s"""{"_id":${r.getLong(0)},"cust":${r.getLong(1)},""" +
          s""""status":"${r.getString(2)}","price":${r.getDouble(3)}}"""
      // bounded fixture seeds (≤400 rows at sf0.01): the loopback
      // server is driver-side state, same as every recorded CDC gate
      val seed = Tables.orders(s, d).filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double")).collect()
      val more = Tables.orders(s, d)
        .filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 1300)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double")).collect()
      srv.seed("shop", "orders", seed.map(docJson).toSeq)
      val ckpt = java.nio.file.Files.createTempFile("mongo_cdc", ".json").toString
      val snapEvents = MongoCdc.read(s, s"mem://$name", "shop",
        Seq("orders"), snapshotParallelism = 4, checkpointPath = Some(ckpt))
      val c = Mongo.clientFor(s"mem://$name", "shop")
      more.grouped(200).foreach(b =>
        c.insert("orders", b.map(r => mapper.readTree(docJson(r))).toSeq))
      (seed ++ more).map(_.getLong(0)).filter(_ % 6 == 0).foreach { k =>
        c.update("orders", mapper.readTree(s"""{"_id":$k}"""),
          mapper.readTree("""{"$set":{"status":"U"},"$inc":{"price":7.5}}"""))
      }
      (seed ++ more).map(_.getLong(0)).filter(_ % 10 == 0).foreach { k =>
        c.delete("orders", mapper.readTree(s"""{"_id":$k}"""), limit = 1)
      }
      c.close()
      val streamEvents = MongoCdc.read(s, s"mem://$name", "shop",
        Seq("orders"), checkpointPath = Some(ckpt))
      val ops = snapEvents.unionByName(streamEvents).select(
        coalesce(get_json_object(col("doc"), "$._id"), col("key"))
          .cast("long").as("k"),
        get_json_object(col("doc"), "$.cust").cast("long").as("cust"),
        get_json_object(col("doc"), "$.status").as("status"),
        get_json_object(col("doc"), "$.price").cast("double").as("price"),
        when(col("operation") === "delete", "d")
          .when(col("operation").isin("update", "replace"), "u")
          .otherwise("c").as("__op"),
        col("seq").as("__ts_ms"))
      sources.Cdc.latestState(ops, Seq("k"), col("__ts_ms")).orderBy("k")
    }),

    "p_dynamodb_cdc" -> ((s, d) => {
      // aws_dynamodb_cdc contract (internal/impl/aws/dynamodb/
      // input_cdc.go): segmented parallel Scan snapshot, then
      // INSERT/MODIFY/REMOVE stream records across a mid-workload
      // RE-SHARD (parent shards exhausted before children), per-shard
      // checkpoint resume, every request SigV4-signed and
      // server-verified. Snapshot + stream fold to relational state.
      import graft.sources.{AwsApi, DynamoCdc}
      import graft.sources.S3.Credentials
      val creds = Credentials("AKGATE", "SKGATE")
      val name = "ddbgate_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val srv = DynamoCdc.register(name, creds)
      val client = DynamoCdc.resolveClient(s"mem://$name")
      def signed(target: String, body: String): Unit = {
        val r = AwsApi.signedPost(client, s"mem://$name", creds, "dynamodb",
          "/", body, Map("X-Amz-Target" -> s"DynamoDB_20120810.$target",
            "Content-Type" -> "application/x-amz-json-1.0"))
        require(r.status == 200, s"$target: ${r.body}")
      }
      // bounded fixture seeds (≤400 rows at sf0.01)
      val seed = Tables.orders(s, d).filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double")).collect()
      val more = Tables.orders(s, d)
        .filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 1300)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double")).collect()
      seed.foreach(r => srv.seed(s"""{"N":"${r.getLong(0)}"}""", Map(
        "k" -> r.getLong(0), "cust" -> r.getLong(1),
        "status" -> r.getString(2), "price" -> r.getDouble(3))))
      val ck = java.nio.file.Files.createTempFile("ddb_cdc", ".json").toString
      val snapEvents = DynamoCdc.read(s, s"mem://$name", creds, "orders",
        snapshotSegments = 4, checkpointPath = Some(ck))
      more.foreach(r => signed("PutItem",
        s"""{"TableName":"orders","Item":{"k":{"N":"${r.getLong(0)}"},""" +
          s""""cust":{"N":"${r.getLong(1)}"},"status":{"S":"${r.getString(2)}"},""" +
          s""""price":{"N":"${r.getDouble(3)}"}}}"""))
      srv.rotateShards(2) // re-shard mid-workload: lineage must hold
      (seed ++ more).map(_.getLong(0)).filter(_ % 7 == 0).foreach(k =>
        signed("UpdateItem",
          s"""{"TableName":"orders","Key":{"k":{"N":"$k"}},"AttributeUpdates":{""" +
            s""""status":{"Action":"PUT","Value":{"S":"U"}},""" +
            s""""price":{"Action":"ADD","Value":{"N":"5.25"}}}}"""))
      (seed ++ more).map(_.getLong(0)).filter(_ % 9 == 0).foreach(k =>
        signed("DeleteItem",
          s"""{"TableName":"orders","Key":{"k":{"N":"$k"}}}"""))
      val streamEvents = DynamoCdc.read(s, s"mem://$name", creds, "orders",
        checkpointPath = Some(ck))
      val ops = snapEvents.unionByName(streamEvents).select(
        coalesce(get_json_object(col("newImage"), "$.k"),
          get_json_object(col("keys"), "$.k")).cast("long").as("k"),
        get_json_object(col("newImage"), "$.cust").cast("long").as("cust"),
        get_json_object(col("newImage"), "$.status").as("status"),
        get_json_object(col("newImage"), "$.price").cast("double").as("price"),
        when(col("operation") === "REMOVE", "d")
          .when(col("operation") === "MODIFY", "u")
          .otherwise("c").as("__op"),
        col("seq").as("__ts_ms"))
      sources.Cdc.latestState(ops, Seq("k"), col("__ts_ms")).orderBy("k")
    }),

    "p_bigquery_write" -> ((s, d) => {
      // gcp_bigquery_write_api contract (internal/impl/gcp/enterprise/
      // bigquery/output.go): pending-stream batches over real gRPC —
      // every batch creates a stream, appends proto rows encoded per a
      // REAL serialized DescriptorProto at sequential offsets,
      // finalizes, and commits atomically; the server decodes rows
      // with the descriptor it was sent, so a descriptor/row mismatch
      // anywhere in the chain breaks the relational readback
      import graft.sinks.BigQueryWriteApi
      import graft.sinks.BigQueryWriteApi.Field
      val srv = new BigQueryWriteApi.Server("gate-token")
      val fields = Seq(Field("doc_id", "INT64"), Field("lang", "STRING"),
        Field("chars", "INT64"))
      BigQueryWriteApi.write(
        Tables.documents(s, d).filter(col("doc_id") < 400)
          .select(to_json(struct(col("doc_id"), col("lang"),
            col("n_chars").as("chars"))).as("value")),
        "127.0.0.1", srv.port, "gate-token", "proj", "ds", "docs",
        fields, mode = "pending_stream", batchSize = 100)
      require(srv.uncommittedStreams == 0, "every batch must commit")
      import s.implicits._
      val out = srv.committed("projects/proj/datasets/ds/tables/docs")
        .toVector.toDF("value")
        .select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"),
          get_json_object(col("value"), "$.chars").cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      srv.stop()
      out
    }),

    "p_amqp1_roundtrip" -> ((s, d) => {
      // amqp_1 contract (the OASIS AMQP 1.0 wire protocol on real TCP
      // sockets): SASL PLAIN, open/begin/attach, credit-gated
      // transfers settled by accepted dispositions, then a receiver
      // link drains the queue — payloads, message sections, and
      // settlement all crossing the real framing layer
      import graft.sources.Amqp1
      val srv = new Amqp1.Server(user = "svc", pass = "gate")
      Amqp1.write(
        Tables.documents(s, d).filter(col("doc_id") < 400)
          .select(to_json(struct(col("doc_id"), col("lang"))).as("value")),
        "127.0.0.1", srv.port, "docs", user = "svc", pass = "gate")
      val out = Amqp1.read(s, "127.0.0.1", srv.port, "docs",
          user = "svc", pass = "gate")
        .select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      srv.stop()
      out
    }),

    "p_salesforce_graphql" -> ((s, d) => {
      // salesforce_graphql input (input_salesforce_graphql.go): UIAPI
      // edges/node/{value} trees flattened one message per record,
      // paginated by INJECTING after:"<cursor>" into the query between
      // requests (page size 50 → 8 pages here), OAuth client-
      // credentials enforced by the loopback org
      import graft.sources.SalesforceApi
      val name = "sfgql_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val srv = SalesforceApi.register(name, "gate-cid", "gate-secret")
      // bounded fixture seed (≤400 rows at sf0.01)
      srv.seedGraph("Document__c",
        Tables.documents(s, d).filter(col("doc_id") < 400)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy(col("doc_id")).collect().map(r =>
            s"""{"Id":"d${r.getLong(0)}","Lang":"${r.getString(1)}","Chars":${r.getLong(2)}}""").toSeq)
      SalesforceApi.graphqlRead(s, s"mem://$name", "gate-cid",
          "gate-secret",
          """query Docs { uiapi { query { Document__c(first: 50) {
            |edges { node { Id { value } Lang { value } Chars { value } } }
            |pageInfo { hasNextPage endCursor } } } } }""".stripMargin)
        .select(
          regexp_extract(get_json_object(col("value"), "$.Id"), "d(\\d+)", 1)
            .cast("long").as("doc_id"),
          get_json_object(col("value"), "$.Lang").as("lang"),
          get_json_object(col("value"), "$.Chars").cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "p_salesforce_sink" -> ((s, d) => {
      // salesforce output (output_salesforce.go): bulk mode drives the
      // full Bulk API 2.0 lifecycle (create job → CSV upload →
      // UploadComplete → poll to JobComplete) for the upserts, then
      // realtime composite sObjects deletes remove every eighth key;
      // the org's store is read back relationally
      import graft.sources.SalesforceApi
      val name = "sfsink_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val srv = SalesforceApi.register(name, "gate-cid", "gate-secret")
      val orders = Tables.orders(s, d).filter(col("o_orderkey") < 1500)
      SalesforceApi.write(
        orders.select(to_json(struct(
          concat(lit("o"), col("o_orderkey")).as("Ext__c"),
          col("o_custkey").as("Cust__c"),
          col("o_orderstatus").as("Status__c"))).as("value")),
        s"mem://$name", "gate-cid", "gate-secret", "Order__c",
        operation = "upsert", externalIdField = "Ext__c", mode = "bulk",
        batchSize = 200)
      SalesforceApi.write(
        orders.filter(col("o_orderkey") % 8 === 0)
          .select(to_json(struct(
            concat(lit("o"), col("o_orderkey")).as("Ext__c"))).as("value")),
        s"mem://$name", "gate-cid", "gate-secret", "Order__c",
        operation = "delete", externalIdField = "Ext__c",
        mode = "realtime")
      import s.implicits._
      srv.store("Order__c").values.map(_.toString).toVector.toDF("value")
        .select(
          regexp_extract(get_json_object(col("value"), "$.Ext__c"),
            "o(\\d+)", 1).cast("long").as("k"),
          get_json_object(col("value"), "$.Cust__c").cast("long").as("cust"),
          get_json_object(col("value"), "$.Status__c").as("status"))
        .orderBy(col("k"))
    }),

    "p_migrator" -> ((s, d) => {
      // redpanda_migrator contract (internal/impl/redpanda/migrator):
      // schema-registry sync assigns NEW destination ids (dst registry
      // pre-seeded, so src id 7 → dst id 51), the partition-parallel
      // copy rewrites the Confluent wire envelope in every value, and
      // per-partition order (= offsets) survives 1:1. The destination
      // cluster is read back raw: frame id + payload + (partition,
      // offset) all checked relationally.
      import graft.sources.{Broker, Migrator}
      import graft.sources.SchemaRegistryIO.InMemoryServer
      val sn = "migsrc_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val dn = "migdst_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val src = Broker.InMemory.named(sn)
      Broker.InMemory.named(dn)
      src.createTopic("orders", 4)
      // bounded fixture seed (≤500 rows at sf0.01), appended in key
      // order per partition so offsets are deterministic
      val rows = Tables.orders(s, d).filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("double"))
        .orderBy(col("o_orderkey")).collect()
      def frame(id: Int, payload: Array[Byte]): Array[Byte] = {
        val out = new Array[Byte](5 + payload.length)
        java.nio.ByteBuffer.wrap(out).put(0.toByte).putInt(id)
        System.arraycopy(payload, 0, out, 5, payload.length)
        out
      }
      rows.groupBy(_.getLong(0) % 4).foreach { case (p, rs) =>
        src.append("orders", p.toInt, rs.sortBy(_.getLong(0)).map { r =>
          Broker.Record(r.getLong(0).toString.getBytes, frame(7,
            s"""{"k":${r.getLong(0)},"cust":${r.getLong(1)},"price":${r.getDouble(2)}}"""
              .getBytes("UTF-8")))
        }.toSeq)
      }
      val srcReg = InMemoryServer.Transport(Seq(InMemoryServer.Entry(
        "orders-value", 1, 7, """{"type":"string"}""")))
      val dstReg = InMemoryServer.Transport(Seq(InMemoryServer.Entry(
        "pre-existing", 1, 50, """{"type":"int"}""")))
      src.commitGroupOffset("analytics", "orders", 0, 3L)
      val report = Migrator.migrate(s, s"mem://$sn", s"mem://$dn",
        srcRegistry = srcReg, dstRegistry = dstReg)
      require(report.schemas == 1 && report.groups == 1)
      import s.implicits._
      val out = s.sparkContext.parallelize(0 until 4, 4).flatMap { p =>
        val t = Broker.transportFor(s"mem://$dn")
        t.fetch("orders", p, 0, t.endOffset("orders", p)).map { st =>
          (new String(st.value, 5, st.value.length - 5, "UTF-8"), p,
            st.offset, java.nio.ByteBuffer.wrap(st.value, 1, 4).getInt)
        }
      }.toDF("json", "part", "off", "schema_id")
      out.select(
          get_json_object(col("json"), "$.k").cast("long").as("k"),
          get_json_object(col("json"), "$.cust").cast("long").as("cust"),
          get_json_object(col("json"), "$.price").cast("double").as("price"),
          col("part"), col("off"), col("schema_id"))
        .orderBy(col("k"))
    }),

    "p_salesforce_cdc" -> ((s, d) => {
      // salesforce_cdc contract (internal/impl/salesforce/
      // salesforcegrpc): the Pub/Sub Subscribe RPC over real h2c gRPC
      // with AVRO-encoded change events (payloads round-trip through
      // the engine's avro codec via GetSchema). Read #1 replays the
      // CREATEs with preset EARLIEST and checkpoints the latest replay
      // id; UPDATEs/DELETEs land after; read #2 resumes with preset
      // CUSTOM and sees exactly them. Events fold by replay id.
      import graft.sources.SalesforceCdc
      val auth = SalesforceCdc.Auth("gate-token", "https://gate", "tid")
      val srv = new SalesforceCdc.Server(auth, batchPerResponse = 100)
      srv.registerSchema("order-v1",
        """{"type":"record","name":"OrderChangeEvent","fields":[
          |{"name":"ChangeEventHeader","type":{"type":"record",
          |  "name":"ChangeEventHeader","fields":[
          |  {"name":"entityName","type":"string"},
          |  {"name":"changeType","type":"string"},
          |  {"name":"recordIds","type":{"type":"array","items":"string"}}]}},
          |{"name":"Status__c","type":"string"},
          |{"name":"Price__c","type":"double"},
          |{"name":"CustId__c","type":"long"}]}""".stripMargin)
      val topic = "/data/OrderChangeEvent"
      // bounded fixture seed (≤500 rows at sf0.01)
      val rows = Tables.orders(s, d).filter(col("o_orderkey") < 1200)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double")).collect()
      def fields(cust: Long, status: String, price: Double) =
        s"""{"Status__c":"$status","Price__c":$price,"CustId__c":$cust}"""
      rows.foreach(r => srv.publish(topic, "order-v1", "Order__c",
        "CREATE", s"r${r.getLong(0)}",
        fields(r.getLong(1), r.getString(2), r.getDouble(3))))
      val ck = java.nio.file.Files.createTempFile("sfdc_gate", ".replay").toString
      val first = SalesforceCdc.read(s, "127.0.0.1", srv.port, auth,
        topic, Some(ck), numRequested = 100000)
      rows.filter(_.getLong(0) % 6 == 0).foreach(r =>
        srv.publish(topic, "order-v1", "Order__c", "UPDATE",
          s"r${r.getLong(0)}",
          fields(r.getLong(1), "U", r.getDouble(3) + 3.25)))
      rows.filter(_.getLong(0) % 11 == 0).foreach(r =>
        srv.publish(topic, "order-v1", "Order__c", "DELETE",
          s"r${r.getLong(0)}", fields(0L, "", 0.0)))
      val second = SalesforceCdc.read(s, "127.0.0.1", srv.port, auth,
        topic, Some(ck), numRequested = 100000)
      srv.stop() // events decoded eagerly; the server can go
      val ops = first.unionByName(second).toDF().select(
        regexp_extract(col("recordId"), "r(\\d+)", 1).cast("long").as("k"),
        get_json_object(col("payloadJson"), "$.CustId__c")
          .cast("long").as("cust"),
        get_json_object(col("payloadJson"), "$.Status__c").as("status"),
        get_json_object(col("payloadJson"), "$.Price__c")
          .cast("double").as("price"),
        when(col("changeType") === "DELETE", "d")
          .when(col("changeType") === "UPDATE", "u")
          .otherwise("c").as("__op"),
        col("replayId").as("__ts_ms"))
      sources.Cdc.latestState(ops, Seq("k"), col("__ts_ms")).orderBy("k")
    }),

    "p_spicedb_watch" -> ((s, d) => {
      // spicedb_watch contract (internal/impl/spicedb/watch_input.go):
      // the Watch RPC over REAL h2c gRPC with hand-encoded authzed
      // protos. Read #1 replays the CREATE updates from an explicit
      // zed-0 cursor and caches the newest token; TOUCH owner-changes
      // and DELETEs land after; read #2 resumes from the cache and
      // sees exactly them. Relationships fold by zed-token order.
      import graft.sources.SpiceDb
      val srv = new SpiceDb.Server("gate-token")
      // bounded fixture seed (≤500 rows at sf0.01)
      val rows = Tables.orders(s, d).filter(col("o_orderkey") < 1200)
        .select(col("o_orderkey"), col("o_custkey")).collect()
      rows.foreach(r => srv.publish("CREATE", "order", r.getLong(0).toString,
        "owner", "user", r.getLong(1).toString))
      val cache = java.nio.file.Files.createTempFile("zed_gate", ".tok").toString
      val first = SpiceDb.watch(s, "127.0.0.1", srv.port, "gate-token",
        Some(cache), startCursor = Some("zed-0"))
      rows.filter(_.getLong(0) % 7 == 0).foreach(r =>
        srv.publish("TOUCH", "order", r.getLong(0).toString, "owner",
          "user", (r.getLong(1) + 1).toString))
      rows.filter(_.getLong(0) % 10 == 0).foreach(r =>
        srv.publish("DELETE", "order", r.getLong(0).toString, "owner",
          "user", r.getLong(1).toString))
      val second = SpiceDb.watch(s, "127.0.0.1", srv.port, "gate-token",
        Some(cache))
      srv.stop() // updates are decoded eagerly; the server can go
      val ops = first.unionByName(second).toDF().select(
        col("resourceId").cast("long").as("k"),
        col("subjectId").as("owner"),
        when(col("op") === "DELETE", "d")
          .when(col("op") === "TOUCH", "u").otherwise("c").as("__op"),
        regexp_extract(col("zedToken"), "zed-(\\d+)", 1)
          .cast("long").as("__ts_ms"))
      sources.Cdc.latestState(ops, Seq("k"), col("__ts_ms")).orderBy("k")
    }),

    "p_opensearch_bulk" -> ((s, d) => {
      // opensearch output (internal/impl/opensearch/output.go): the
      // shared _bulk protocol under per-request SigV4 (service `es`)
      // verified server-side — index all docs, then bulk-delete every
      // ninth; surviving docs read back relationally
      import graft.sinks.OpenSearch
      import graft.sources.S3.Credentials
      val creds = Credentials("AKGATE", "SKGATE")
      val name = "osgate_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val srv = OpenSearch.register(name, creds)
      val docs = Tables.documents(s, d).filter(col("doc_id") < 400)
        .select(col("doc_id"),
          to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
            .as("value"))
      OpenSearch.bulkWrite(docs, s"mem://$name", lit("docs"), lit("index"),
        col("doc_id"), creds = Some(creds))
      OpenSearch.bulkWrite(
        docs.filter(col("doc_id") % 9 === 0), s"mem://$name", lit("docs"),
        lit("delete"), col("doc_id"), creds = Some(creds))
      import s.implicits._
      srv.es.rows("docs").toVector.toDF("value").select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"),
          get_json_object(col("value"), "$.n_chars").cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "p_azure_table" -> ((s, d) => {
      // azure_table_storage output: entities by (lang partition key,
      // doc_id row key) over the Table-service Shared Key (re-derived
      // server-side), INSERT_REPLACE type; Query Entities reads back
      import graft.sinks.AzureTables
      import graft.sources.AzureBlob.Account
      val acct = Account("gateacct", java.util.Base64.getEncoder
        .encodeToString("gate-table-key".getBytes))
      val name = "atgate_" + java.util.UUID.randomUUID.toString.replace("-", "")
      AzureTables.register(name, acct)
      AzureTables.write(
        Tables.documents(s, d).filter(col("doc_id") < 400)
          .select(col("lang").as("pk"), col("doc_id").as("rk"),
            to_json(struct(col("n_chars"))).as("value")),
        s"mem://$name", acct, "docs", col("pk"), col("rk"),
        insertType = "INSERT_REPLACE")
      import s.implicits._
      new AzureTables.Client(s"mem://$name", acct).query("docs")
        .toVector.toDF("value").select(
          get_json_object(col("value"), "$.RowKey").cast("long").as("doc_id"),
          get_json_object(col("value"), "$.PartitionKey").as("lang"),
          get_json_object(col("value"), "$.n_chars").cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "p_adls_write" -> ((s, d) => {
      // azure_data_lake_gen2 output: per-directory files via the real
      // create/append/flush commit protocol (uncommitted bytes
      // invisible until flush), Shared Key verified; all committed
      // files read back through the DFS list+read surface
      import graft.sinks.AzureDataLake
      import graft.sources.AzureBlob.Account
      val acct = Account("gateacct", java.util.Base64.getEncoder
        .encodeToString("gate-dfs-key".getBytes))
      val name = "dlgate_" + java.util.UUID.randomUUID.toString.replace("-", "")
      AzureDataLake.register(name, acct)
      AzureDataLake.write(
        Tables.documents(s, d).filter(col("doc_id") < 400)
          .select(concat(lit("dt="), col("doc_id") % 4).as("path"),
            to_json(struct(col("doc_id"), col("lang"))).as("value")),
        s"mem://$name", acct, "lake", col("path"))
      val cl = new AzureDataLake.Client(s"mem://$name", acct)
      val lines = cl.listPaths("lake").flatMap(p =>
        new String(cl.readFile("lake", p)).split("\n").filter(_.nonEmpty)
          .map(v => (p.takeWhile(_ != '/'), v)))
      import s.implicits._
      lines.toVector.toDF("dir", "value").select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"),
          col("dir"))
        .orderBy(col("doc_id"))
    }),

    "p_snowflake_put" -> ((s, d) => {
      // snowflake_put output (output_snowflake_put.go): gzip'd stage
      // files under an interpolated path + Snowpipe insertFiles, every
      // request carrying a key-pair RS256 JWT the service verifies
      // against the registered public key; staged rows read back
      import graft.sinks.SnowflakePut
      val kp = SnowflakePut.generateKeyPair()
      val name = "sfgate_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val srv = SnowflakePut.register(name, "gateacct", "loader", kp.getPublic)
      SnowflakePut.write(
        Tables.documents(s, d).filter(col("doc_id") < 400)
          .select(to_json(struct(col("doc_id"), col("lang"))).as("value"))
          .withColumn("path", lit("2024/01")),
        s"mem://$name", SnowflakePut.Creds("gateacct", "loader", kp),
        "docs_stage", col("path"), compression = "GZIP",
        pipe = Some("db.public.docs_pipe"))
      require(srv.loaded("db.public.docs_pipe").nonEmpty)
      import s.implicits._
      srv.rows("docs_stage").toVector.toDF("value").select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"))
        .orderBy(col("doc_id"))
    }),

    "p_cloudwatch_logs" -> ((s, d) => {
      // aws_cloudwatch_logs input (internal/impl/aws/cloudwatch/
      // input_logs.go): FilterLogEvents page walk (nextToken chain,
      // page size 100 → several pages here), stream-prefix selection,
      // interleaved timestamp order, per-event stream metadata —
      // all SigV4-signed and server-verified
      import graft.sources.CloudWatch
      import graft.sources.S3.Credentials
      val creds = Credentials("AKGATE", "SKGATE")
      val name = "cwgate_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val srv = CloudWatch.register(name, creds)
      // bounded fixture seed (≤400 rows at sf0.01)
      Tables.documents(s, d).filter(col("doc_id") < 400)
        .select(col("doc_id"), col("lang"), col("n_chars")).collect()
        .foreach { r =>
          srv.seedEvent("app", s"s${r.getLong(0) % 3}", r.getLong(0),
            s"""{"doc_id":${r.getLong(0)},"lang":"${r.getString(1)}","n_chars":${r.getLong(2)}}""")
        }
      CloudWatch.logsRead(s, s"mem://$name", creds, "app",
          streamPrefix = "s")
        .select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"),
          get_json_object(col("value"), "$.n_chars").cast("long").as("n_chars"),
          element_at(col("metadata"), "cloudwatch_log_stream").as("stream"))
        .orderBy(col("doc_id"))
    }),

    "p_cloudwatch_metrics" -> ((s, d) => {
      // aws_cloudwatch metrics output (internal/impl/aws/cloudwatch/
      // metrics.go): a metrics registry flushed through the
      // PutMetricData form protocol with label→dimension mapping; the
      // server-side parse is read back and checked relationally
      import graft.operators.MetricsExport
      import graft.sources.CloudWatch
      import graft.sources.S3.Credentials
      val creds = Credentials("AKGATE", "SKGATE")
      val name = "cwmgate_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val srv = CloudWatch.register(name, creds)
      val reg = new MetricsExport.Registry
      // bounded: one counter per language (≤10 labels)
      Tables.documents(s, d).groupBy(col("lang")).count().collect()
        .foreach(r => reg.counter("docs_total", Seq("lang" -> r.getString(0)))
          .addAndGet(r.getLong(1)))
      CloudWatch.putMetricData(s"mem://$name", creds, "Graft", reg)
      import s.implicits._
      srv.metrics.toSeq.collect {
        case ((ns, "docs_total", dims), (v, unit)) if ns == "Graft" =>
          (dims.stripPrefix("lang="), v.toLong, unit)
      }.toDF("lang", "docs", "unit").orderBy(col("lang"))
    }),

    "p_firehose_delivery" -> ((s, d) => {
      // aws_kinesis_firehose output (internal/impl/aws/kinesis/
      // output_firehose.go): PutRecordBatch with the loopback
      // throttling every 6th fresh record's first attempt — the gate
      // only matches if EXACTLY the failed records are retried (a
      // client re-sending whole batches would duplicate rows and
      // hash-mismatch)
      import graft.sinks.Firehose
      import graft.sources.S3.Credentials
      val creds = Credentials("AKGATE", "SKGATE")
      val name = "fhgate_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val srv = Firehose.register(name, creds, throttleEvery = 6)
      Firehose.write(
        Tables.documents(s, d).filter(col("doc_id") < 500)
          .select(to_json(struct(col("doc_id"), col("lang"))).as("value")),
        s"mem://$name", creds, "deliveries", batchSize = 100)
      import s.implicits._
      val delivered = srv.delivered.toVector.toDF("value")
      delivered.select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          get_json_object(col("value"), "$.lang").as("lang"))
        .orderBy(col("doc_id"))
    }),

    "p_spanner_cdc" -> ((s, d) => {
      // gcp_spanner_cdc contract (internal/impl/gcp/enterprise/
      // input_spanner_cdc.go): commit mutations become change-stream
      // records partitioned by key across child partition tokens; the
      // root TVF query discovers partitions; read #1 checkpoints the
      // per-partition watermarks, read #2 resumes past them and sees
      // exactly the later commits. Records fold by commit_timestamp.
      import graft.sources.SpannerCdc
      val srv = new SpannerCdc.Server(partitions = 3)
      val db = "projects/gate/instances/i/databases/orders"
      def commit(muts: Seq[String]): Unit = {
        val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"${srv.baseUrl}/v1/$db/sessions/s1:commit"))
          .header("Authorization", "Bearer spanner-token")
          .header("Content-Type", "application/json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            s"""{"mutations":${muts.mkString("[", ",", "]")}}"""))
          .build()
        val r = java.net.http.HttpClient.newHttpClient().send(req,
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(r.statusCode() == 200, r.body())
      }
      def rowMut(r: org.apache.spark.sql.Row, status: String,
                 delta: Double): String =
        s"""{"insertOrUpdate":{"table":"orders","columns":["k","cust","status","price"],""" +
          s""""values":[["${r.getLong(0)}","${r.getLong(1)}","$status",${r.getDouble(3) + delta}]]}}"""
      // bounded fixture seed (≤500 rows at sf0.01)
      val rows = Tables.orders(s, d).filter(col("o_orderkey") < 1200)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double")).collect()
      rows.grouped(200).foreach(b =>
        commit(b.map(r => rowMut(r, r.getString(2), 0.0)).toSeq))
      val ck = java.nio.file.Files.createTempFile("spanner_cdc", ".json").toString
      val first = SpannerCdc.read(s, srv.baseUrl, "spanner-token", db,
        "orders_stream", Some(ck))
      first.count() // materialize before the later commits land
      rows.filter(_.getLong(0) % 8 == 0).grouped(200).foreach(b =>
        commit(b.map(r => rowMut(r, "U", 9.75)).toSeq))
      commit(rows.map(_.getLong(0)).filter(_ % 12 == 0).map(k =>
        s"""{"delete":{"table":"orders","keySet":{"keys":[["$k"]]}}}""").toSeq)
      val second = SpannerCdc.read(s, srv.baseUrl, "spanner-token", db,
        "orders_stream", Some(ck))
      val ops = first.unionByName(second).toDF().select(
        coalesce(get_json_object(col("newValues"), "$.k"),
          get_json_object(col("keys"), "$.k")).cast("long").as("k"),
        get_json_object(col("newValues"), "$.cust").cast("long").as("cust"),
        get_json_object(col("newValues"), "$.status").as("status"),
        get_json_object(col("newValues"), "$.price").cast("double").as("price"),
        when(col("modType") === "DELETE", "d")
          .when(col("modType") === "UPDATE", "u")
          .otherwise("c").as("__op"),
        col("commitTs").as("__ts_ms"))
      sources.Cdc.latestState(ops, Seq("k"), col("__ts_ms")).orderBy("k")
    }),

    "p_lakehouse_upsert" -> ((s, d) => {
      // iceberg-shaped sink contract (output_iceberg.go row_operation
      // upsert + schema evolution): snapshot write, then a second batch
      // that UPDATES every k%5 row, INSERTS 1500≤k<2000, DELETES k%13
      // rows, and ADDS a `status` column — final table state is read
      // back and checked relationally
      import sinks.Lakehouse
      Lakehouse.dropTable(s, "lakehouse_orders")
      Lakehouse.dropTable(s, "lakehouse_orders__stage")
      val base = Tables.orders(s, d).filter(col("o_orderkey") < 1500)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
          col("o_totalprice").cast("double").as("price"))
      Lakehouse.upsert(base, "lakehouse_orders", Seq("k"))
      val batch2 = Tables.orders(s, d).filter(col("o_orderkey") < 2000)
        .filter(col("o_orderkey") % 5 === 0 || col("o_orderkey") >= 1500 ||
          col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
          (col("o_totalprice").cast("double") + 100.0).as("price"),
          lit("updated").as("status"),
          (col("o_orderkey") % 13 === 0).as("__del"))
      Lakehouse.upsert(batch2, "lakehouse_orders", Seq("k"),
        deleteCol = Some("__del"))
      s.table("lakehouse_orders").orderBy(col("k"))
    }),

    "p_iceberg_pruned" -> ((s, d) => {
      // manifest column bounds (spec Appendix D single-value stats,
      // harvested from parquet footers): four range-disjoint appends,
      // then a bounded read — the gate REQUIRES the scan plan to skip
      // files whose bounds cannot match before comparing the rows
      import sinks.Iceberg
      val loc = java.nio.file.Files.createTempDirectory("iceberg_bnd").toString
      val o = Tables.orders(s, d)
      def shaped(lo: Long, hi: Long) =
        o.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
          .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
            col("o_totalprice").cast("double").as("price"))
          .repartition(1)
      Seq((0L, 500L), (500L, 1000L), (1000L, 1500L), (1500L, 2000L))
        .foreach { case (lo, hi) => Iceberg.append(shaped(lo, hi), loc) }
      val total = Iceberg.planFiles(s, loc).size
      val kept = Iceberg.planFilesWhere(s, loc, "k",
        Some(600L), Some(1300L)).size
      require(kept < total && kept == 2,
        s"bounds must skip the non-overlapping files ($kept of $total)")
      Iceberg.readTableWhere(s, loc, "k", Some(600L), Some(1300L))
        .orderBy(col("k"))
    }),

    "p_iceberg_mor" -> ((s, d) => {
      // the reference committer's MERGE-ON-READ write shape
      // (committer.go:99-104): updates and deletes land as equality-
      // delete files (content=2, own deletes manifests) plus new data
      // files — NO existing file is rewritten — and the reader applies
      // deletes by the sequence rule (a delete removes matching rows
      // ONLY from earlier sequence numbers). The gate asserts the
      // no-rewrite invariant, then reads back through the
      // delete-applying scan.
      import sinks.Iceberg
      val loc = java.nio.file.Files.createTempDirectory("iceberg_mor").toString
      val o = Tables.orders(s, d)
      def shaped(df: org.apache.spark.sql.DataFrame) = df.select(
        col("o_orderkey").as("k"), col("o_custkey").as("cust"),
        col("o_totalprice").cast("double").as("price"))
      Iceberg.append(shaped(o.filter(col("o_orderkey") < 1500)), loc)
      val files1 = Iceberg.planFiles(s, loc).map(_.path).toSet
      Iceberg.upsertMergeOnRead(
        shaped(o.filter(col("o_orderkey") < 1500 &&
            col("o_orderkey") % 5 === 0))
          .withColumn("price", col("price") + 20.0)
          .withColumn("status", lit("M")),
        loc, Seq("k"))
      Iceberg.upsertMergeOnRead(
        o.filter(col("o_orderkey") < 1500 && col("o_orderkey") % 9 === 0)
          .select(col("o_orderkey").as("k"), lit(true).as("__del")),
        loc, Seq("k"), deleteCol = Some("__del"))
      require(files1.subsetOf(Iceberg.planFiles(s, loc).map(_.path).toSet),
        "merge-on-read must not rewrite data files")
      require(Iceberg.planEntries(s, loc)
        .count(_.content == Iceberg.ContentEqDeletes) == 2)
      Iceberg.readTable(s, loc).orderBy(col("k"))
    }),

    "p_iceberg_posdel" -> ((s, d) => {
      // MERGE-ON-READ updates via POSITION deletes (content 1): the
      // touched keys are located by a column-pruned scan of the live
      // files (key cols + _metadata.row_index only), land as ONE
      // (file_path, pos) delete file + the batch's new data files; no
      // data file is rewritten. The reader applies content-1 files by
      // (file basename, position) with the sequence rule.
      import sinks.Iceberg
      val loc = java.nio.file.Files.createTempDirectory("iceberg_pd").toString
      val o = Tables.orders(s, d)
      def shaped(df: org.apache.spark.sql.DataFrame) = df.select(
        col("o_orderkey").as("k"), col("o_custkey").as("cust"),
        col("o_totalprice").cast("double").as("price"))
      Iceberg.append(shaped(o.filter(col("o_orderkey") < 1500)), loc)
      val files1 = Iceberg.planFiles(s, loc).map(_.path).toSet
      Iceberg.upsertPositionDeletes(
        shaped(o.filter(col("o_orderkey") < 1500 &&
            col("o_orderkey") % 6 === 0))
          .withColumn("price", col("price") + 30.0),
        loc, Seq("k"))
      Iceberg.upsertPositionDeletes(
        o.filter(col("o_orderkey") < 1500 && col("o_orderkey") % 13 === 0)
          .select(col("o_orderkey").as("k"), lit(true).as("__del")),
        loc, Seq("k"), deleteCol = Some("__del"))
      require(files1.subsetOf(Iceberg.planFiles(s, loc).map(_.path).toSet),
        "position-delete MOR must not rewrite data files")
      require(Iceberg.planEntries(s, loc)
        .count(_.content == Iceberg.ContentPosDeletes) == 2)
      Iceberg.readTable(s, loc).orderBy(col("k"))
    }),

    "p_iceberg_commit" -> ((s, d) => {
      // REAL Iceberg v2 table format (internal/impl/iceberg/
      // committer.go: one atomic snapshot per commit): three commits —
      // partitioned append, schema-evolving append, copy-on-write
      // upsert with deletes — then the table is read back THROUGH the
      // metadata tree (version-hint → metadata.json → manifest-list
      // avro → manifest avro → listed parquet files). An orphan
      // parquet dropped into data/ proves the scan is manifest-driven,
      // not a directory listing.
      import sinks.Iceberg
      val loc = java.nio.file.Files.createTempDirectory("iceberg_gate").toString
      val o = Tables.orders(s, d)
      def shaped(df: org.apache.spark.sql.DataFrame) = df.select(
        col("o_orderkey").as("k"), col("o_custkey").as("cust"),
        col("o_totalprice").cast("double").as("price"),
        (col("o_orderkey") % 4).as("pb"))
      Iceberg.append(shaped(o.filter(col("o_orderkey") < 1200)), loc,
        partitionCols = Seq("pb"))
      Iceberg.append(
        shaped(o.filter(col("o_orderkey") >= 1200 && col("o_orderkey") < 1500))
          .withColumn("status", lit("added")), loc)
      val b3 = shaped(o.filter(col("o_orderkey") < 1500)
          .filter(col("o_orderkey") % 7 === 0 || col("o_orderkey") % 11 === 0))
        .withColumn("price", col("price") + 50.0)
        .withColumn("status", lit("upd"))
        .withColumn("__del", col("k") % 11 === 0)
      Iceberg.upsert(b3, loc, Seq("k"), deleteCol = Some("__del"))
      s.range(1).write.mode("append").parquet(s"$loc/data") // orphan
      Iceberg.readTable(s, loc).orderBy(col("k"))
    }),

    "p_kafka_roundtrip" -> ((s, d) => {
      // kafka-shaped broker contract (inputs/kafka.adoc +
      // outputs/kafka.adoc via the injectable Broker.Transport seam):
      // produce documents with manual partitions (doc_id % 4) in
      // doc_id order, read back through the partition-parallel source,
      // and prove partition assignment, per-partition OFFSET ORDER,
      // lag, and payload against a pure-SQL oracle
      import graft.sources.{Broker, Sources}
      val docs = Tables.documents(s, d).filter(col("doc_id") < 400)
        .select(col("doc_id"), col("text"))
      val name = "rt_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val addr = s"mem://$name"
      Broker.InMemory.named(name).createTopic("docs", 4)
      sinks.Sinks.brokerWrite(docs, addr, "docs", col("doc_id"),
        col("text"), col("doc_id"), partitionCol = Some(col("doc_id") % 4))
      Sources.brokerRead(s, addr, "docs").select(
          col("metadata")("kafka_key").cast("long").as("doc_id"),
          col("metadata")("kafka_partition").cast("long").as("kafka_partition"),
          col("metadata")("kafka_offset").cast("long").as("kafka_offset"),
          col("metadata")("kafka_lag").cast("long").as("kafka_lag"),
          col("value").as("text"))
        .orderBy(col("doc_id"))
    }),

    "p_kafka_wire" -> ((s, d) => {
      // the hand-rolled Kafka BINARY PROTOCOL on real TCP
      // (KafkaWire.scala vs internal/impl/kafka/input_redpanda.go:103 /
      // output_sarama_kafka.go:367): produce documents through real
      // Produce v3 frames (record-batch v2, CRC32C validated by the
      // broker), join a consumer group (FindCoordinator → JoinGroup →
      // SyncGroup), commit mid-partition offsets via OffsetCommit,
      // leave, REJOIN (generation bump), and resume the read from the
      // committed offsets with executor-parallel Fetch v4 frames — the
      // reference ordered-reader's offset-resume contract end to end.
      import graft.sources.{Broker, KafkaWire, Sources}
      val srv = new KafkaWire.Server()
      val hostPort = s"127.0.0.1:${srv.port}"
      val addr = s"kafka://$hostPort"
      val t = Broker.transportFor(addr)
      t.createTopic("docs", 4)
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("text"))
      sinks.Sinks.brokerWrite(docs, addr, "docs", col("doc_id"),
        col("text"), col("doc_id"), partitionCol = Some(col("doc_id") % 4))
      // session 1: group membership + a halfway offset commit
      val m = new KafkaWire.GroupMember("127.0.0.1", srv.port, "gate",
        Seq("docs"))
      val assigned = m.join()("docs")
      val gen1 = m.generation
      m.commit(assigned.map(p =>
        ("docs", p) -> t.endOffset("docs", p) / 2).toMap)
      m.leave()
      // session 2: rejoin (new generation), resume from committed
      m.join()
      val genBump = (m.generation - gen1).toLong
      val resume = m.committed().map { case ((_, p), o) => p -> o }
      m.close()
      val out = Sources.brokerRead(s, addr, "docs", startOffsets = resume)
        .select(
          col("metadata")("kafka_key").cast("long").as("doc_id"),
          col("metadata")("kafka_partition").cast("long").as("kafka_partition"),
          col("metadata")("kafka_offset").cast("long").as("kafka_offset"),
          col("value").as("text"),
          lit(genBump).as("gen_bump"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      KafkaWire.dropClient(hostPort)
      srv.stop()
      out
    }),

    "p_kafka_txn" -> ((s, d) => {
      // transactional produce end-to-end (KIP-98 EOS; the broker
      // semantics franz_writer.go's transactional sessions rely on
      // Redpanda for): the kafka output's `transactional_id` wraps
      // each partition task's produce in AddPartitionsToTxn →
      // transactional batches → EndTxn(commit), aborting on task
      // failure. The gate plants a FAILED first attempt (30 rows per
      // partition, dies before EndTxn → abort markers), then runs the
      // committed write; a read_committed consumer must see ONLY the
      // committed rows — at offsets PAST the aborted ones, proving
      // skip-by-marker rather than stop-at-LSO — while
      // read_uncommitted also surfaces the 60 aborted rows.
      import graft.sources.{Broker, KafkaWire, Sources}
      val srv = new KafkaWire.Server()
      val hostPort = s"127.0.0.1:${srv.port}"
      val txnHostPort = s"$hostPort?transactional_id=gate"
      val addr = s"kafka://$txnHostPort"
      val t = Broker.transportFor(addr)
      t.createTopic("docs", 2)
      // failed attempt: the same per-task txn session brokerWrite runs,
      // driven directly so the mid-stream death is deterministic —
      // 30 synthetic rows per partition land at offsets 0-29, the
      // abort marker at 30
      val txc = KafkaWire.clientFor(txnHostPort)
      Seq(0, 1).foreach { p =>
        try txc.transactional("docs", p) {
          txc.append("docs", p, (0 until 30).map(i =>
            Broker.Record(null, s"aborted_$p$i".getBytes)))
          throw new RuntimeException("injected task failure")
        } catch { case e: RuntimeException
          if e.getMessage == "injected task failure" => }
      }
      // the committed write: the config path's address (the kafka
      // output with `transactional_id: gate` builds exactly this) —
      // per-partition transactions commit, so committed data starts
      // at offset 31 on each partition
      val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      sinks.Sinks.brokerWrite(docs, addr, "docs", col("doc_id"),
        col("text"), col("doc_id"), partitionCol = Some(col("doc_id") % 2))
      // read_uncommitted sees committed + aborted data (markers are
      // skipped by the record decode); read_committed sees neither
      // the aborted rows nor the markers
      val uncommitted = Sources.brokerRead(s, s"kafka://$hostPort", "docs")
        .count()
      val committed = Sources.brokerRead(s,
          s"kafka://$hostPort?isolation=read_committed", "docs")
        .select(
          col("metadata")("kafka_key").cast("long").as("doc_id"),
          col("metadata")("kafka_partition").cast("long")
            .as("kafka_partition"),
          col("metadata")("kafka_offset").cast("long").as("kafka_offset"),
          col("value").as("text"))
      val committedCnt = docs.count()
      val out = committed
        .withColumn("aborted_visible", lit(uncommitted - committedCnt))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      KafkaWire.dropClient(txnHostPort)
      KafkaWire.dropClient(hostPort)
      KafkaWire.dropClient(s"$hostPort?isolation=read_committed")
      srv.stop()
      out
    }),

    "p_amqp_roundtrip" -> ((s, d) => {
      // AMQP-0.9 contract (inputs/outputs amqp_0_9.adoc via the
      // injectable Mq.Transport seam): publish documents to a TOPIC
      // exchange keyed by language, let the broker route into a
      // wildcard-bound queue, and read back — routing selection, FIFO
      // delivery tags, and metadata all verified against a pure-SQL
      // oracle. The single-partition producer pins publish order so
      // the delivery tag is deterministic (a competing-producers
      // publish interleaves; MqSpec covers that path).
      import graft.sources.Mq
      val name = "rt_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val addr = s"mem://$name"
      val t = Mq.InMemory.named(name)
      t.declareExchange("doc", "topic")
      t.declareQueue("q_en"); t.declareQueue("q_all")
      t.bind("doc", "doc.en", "q_en")
      t.bind("doc", "doc.#", "q_all")
      val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
        .select(to_json(struct(col("doc_id"))).as("value"),
          concat(lit("doc."), col("lang")).as("__amqp_key"), col("doc_id"))
        .coalesce(1).sortWithinPartitions(col("doc_id"))
      Mq.amqpWrite(docs, addr, "doc", "__amqp_key")
      Mq.amqpRead(s, addr, "q_en").select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          col("metadata")("amqp_routing_key").as("rk"),
          col("metadata")("amqp_delivery_tag").cast("long").as("tag"))
        .orderBy(col("doc_id"))
    }),

    "p_sqs_roundtrip" -> ((s, d) => {
      // aws_sqs contract (inputs/aws_sqs.adoc, outputs/aws_sqs.adoc
      // via the CloudQueue seam): send orders with a per-message
      // attribute, drain with COMPETING CONSUMERS (delete-on-emit
      // acking), and verify payloads + the sqs_* metadata surface
      // relationally. Delivery order is not part of the SQS contract,
      // so the gate sorts by key; lease/redelivery/FIFO semantics are
      // CloudQueueSpec's clock-driven territory.
      import graft.sources.CloudQueue
      val name = "sq_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val t = CloudQueue.sqsNamed(name)
      t.createQueue("q")
      val orders = Tables.orders(s, d).filter(col("o_orderkey") < 500)
        .select(
          to_json(struct(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"))).as("value"),
          col("o_orderstatus").as("status"))
      CloudQueue.sqsWrite(orders, s"mem://$name", "q",
        attributeCols = Seq("status"))
      CloudQueue.sqsRead(s, s"mem://$name", "q", consumers = 4)
        .select(
          get_json_object(col("value"), "$.o_orderkey").cast("long")
            .as("k"),
          get_json_object(col("value"), "$.o_custkey").cast("long")
            .as("cust"),
          get_json_object(col("value"), "$.o_totalprice").cast("double")
            .as("price"),
          col("metadata")("status").as("status"),
          col("metadata")("sqs_approximate_receive_count").cast("int")
            .as("rc"))
        .orderBy(col("k"))
    }),

    "p_pubsub_roundtrip" -> ((s, d) => {
      // gcp_pubsub contract (inputs/gcp_pubsub.adoc,
      // outputs/gcp_pubsub.adoc via the CloudQueue seam): publish
      // customers to a topic with a per-row ordering key, fan out to a
      // subscription, pull with competing consumers (ack-on-emit) —
      // payloads, ordering-key metadata, and first-attempt delivery
      // verified relationally. A pre-publish second subscription and
      // ack-deadline redelivery live in CloudQueueSpec.
      import graft.sources.CloudQueue
      val name = "ps_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val t = CloudQueue.psNamed(name)
      t.createTopic("t"); t.subscribe("t", "s")
      val cust = Tables.customer(s, d).filter(col("c_custkey") < 400)
        .select(
          to_json(struct(col("c_custkey"), col("c_name"),
            col("c_acctbal"))).as("value"),
          col("c_mktsegment").as("okey"))
      CloudQueue.pubsubWrite(cust, s"mem://$name", "t",
        orderingKeyCol = Some("okey"))
      CloudQueue.pubsubRead(s, s"mem://$name", "s", consumers = 4)
        .select(
          get_json_object(col("value"), "$.c_custkey").cast("long")
            .as("k"),
          get_json_object(col("value"), "$.c_name").as("name"),
          get_json_object(col("value"), "$.c_acctbal").cast("double")
            .as("bal"),
          col("metadata")("gcp_pubsub_ordering_key").as("okey"),
          col("metadata")("gcp_pubsub_delivery_attempt").cast("int")
            .as("attempt"))
        .orderBy(col("k"))
    }),

    "p_kinesis_roundtrip" -> ((s, d) => {
      // aws_kinesis contract (inputs/aws_kinesis.adoc via the Kinesis
      // seam): orders put with partition key = custkey, routed by the
      // DOCUMENTED MD5 hash ranges — the oracle recomputes the shard
      // from md5(pk) and the per-shard sequence with a window, so
      // routing math, shard-ordered delivery, and the kinesis_*
      // metadata surface are all hash-gated. Single sorted producer
      // partition pins arrival order (KinesisSpec covers competing
      // producers/checkpoint resume).
      import graft.sources.Kinesis
      val name = "kn_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val t = Kinesis.named(name)
      t.createStream("orders", 4)
      val src = Tables.orders(s, d).filter(col("o_orderkey") < 600)
        .select(
          to_json(struct(col("o_orderkey"), col("o_totalprice")))
            .as("value"),
          col("o_custkey").cast("string").as("pk"), col("o_orderkey"))
        .coalesce(1).sortWithinPartitions(col("o_orderkey"))
      Kinesis.write(src, s"mem://$name", "orders", "pk")
      Kinesis.read(s, s"mem://$name", Seq("orders"))
        .select(
          get_json_object(col("value"), "$.o_orderkey").cast("long")
            .as("k"),
          get_json_object(col("value"), "$.o_totalprice").cast("double")
            .as("price"),
          col("metadata")("kinesis_partition_key").as("pk"),
          col("metadata")("kinesis_shard").cast("int").as("shard"),
          col("metadata")("kinesis_sequence_number").cast("long")
            .as("seq"))
        .orderBy(col("k"))
    }),

    "p_nsq_roundtrip" -> ((s, d) => {
      // nsq contract (inputs/nsq.adoc, outputs/nsq.adoc via the Nsq
      // adapter over the Pub/Sub state machine): publish parts to a
      // topic, drain one channel with competing consumers (FIN on
      // emit) — payloads and first-attempt nsq_attempts verified
      // relationally. Channel fan-out, REQ redelivery, and message
      // timeouts are QueueAdaptersSpec's clock-driven territory.
      import graft.sources.Nsq
      val name = "nq_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val addr = s"mem://$name"
      Nsq.createTopic(addr, "t")
      Nsq.createChannel(addr, "t", "ch")
      val parts = Tables.part(s, d).filter(col("p_partkey") < 400)
        .select(to_json(struct(col("p_partkey"), col("p_name"),
          col("p_retailprice"))).as("value"))
      Nsq.write(parts, addr, "t")
      Nsq.read(s, addr, "t", "ch", consumers = 4)
        .select(
          get_json_object(col("value"), "$.p_partkey").cast("long")
            .as("k"),
          get_json_object(col("value"), "$.p_name").as("name"),
          get_json_object(col("value"), "$.p_retailprice").cast("double")
            .as("price"),
          col("metadata")("nsq_attempts").cast("int").as("attempts"))
        .orderBy(col("k"))
    }),

    "p_beanstalkd_roundtrip" -> ((s, d) => {
      // beanstalkd contract (inputs/beanstalkd.adoc,
      // internal/impl/beanstalkd/input.go reserve→delete): put orders
      // with pri = the order's priority class, single consumer drain —
      // the EMISSION ORDER (__seq) must be exactly priority-then-FIFO,
      // which the oracle recomputes with a window over (pri, put
      // order). TTR/bury/kick/touch live in QueueAdaptersSpec.
      import graft.sources.Beanstalkd
      val name = "bs_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val addr = s"mem://$name"
      val orders = Tables.orders(s, d).filter(col("o_orderkey") < 500)
        .select(
          to_json(struct(col("o_orderkey"))).as("value"),
          substring(col("o_orderpriority"), 1, 1).cast("int").as("pri"),
          col("o_orderkey"))
        .coalesce(1).sortWithinPartitions(col("o_orderkey"))
      Beanstalkd.write(orders, addr, priCol = Some("pri"))
      Beanstalkd.read(s, addr, consumers = 1)
        .select(
          get_json_object(col("value"), "$.o_orderkey").cast("long")
            .as("k"),
          col("metadata")("beanstalkd_priority").cast("int").as("pri"),
          col("metadata")("beanstalkd_reserves").cast("int")
            .as("reserves"),
          col("__seq").as("seq"))
        .orderBy(col("k"))
    }),

    "p_azure_queue_roundtrip" -> ((s, d) => {
      // azure_queue_storage contract (inputs/azure_queue_storage.adoc,
      // input_queue_storage.go:130-180): enqueue customers FIFO,
      // single-consumer dequeue with track_properties — payload,
      // queue-level user metadata stamped per message, the constant
      // insertion time (injectable clock at 0), and the per-batch
      // message-lag arithmetic (approximate count minus this batch)
      // all recomputed by the oracle. Pop-receipt lease semantics are
      // QueueAdaptersSpec's.
      import graft.sources.AzureQueue
      val name = "az_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val addr = s"mem://$name"
      AzureQueue.createQueue(addr, "q")
      AzureQueue.setQueueMetadata(addr, "q", Map("env" -> "prod"))
      val cust = Tables.customer(s, d).filter(col("c_custkey") < 300)
        .select(to_json(struct(col("c_custkey"), col("c_name")))
          .as("value"), col("c_custkey"))
        .coalesce(1).sortWithinPartitions(col("c_custkey"))
      AzureQueue.write(cust, addr, "q")
      AzureQueue.read(s, addr, "q", consumers = 1, batchSize = 32,
          trackProperties = true)
        .select(
          get_json_object(col("value"), "$.c_custkey").cast("long")
            .as("k"),
          get_json_object(col("value"), "$.c_name").as("name"),
          col("metadata")("queue_storage_queue_name").as("qname"),
          col("metadata")("queue_storage_insertion_time").as("itime"),
          col("metadata")("env").as("env"),
          col("metadata")("queue_storage_message_lag").cast("long")
            .as("lag"))
        .orderBy(col("k"))
    }),

    "p_otlp_traces" -> ((s, d) => {
      // otlp_http traces ingest end-to-end (internal/impl/otlp
      // input_http.go + otlpconv/trace.go): events become spans,
      // batched 100/request under a shared Resource+Scope, POSTed to
      // the REAL loopback receiver alternating JSON and protobuf
      // bodies (both decoded by the hand-rolled proto3/OTLP-JSON
      // codec), then unbatched executor-side into one self-contained
      // message per span — ids, nano timestamps, attributes, and the
      // per-request encoding metadata all verified relationally.
      import graft.sources.Otlp
      import graft.operators.Http
      val seed = Tables.events(s, d).filter(col("event_id") < 1500)
        .select("event_id", "ts", "event_type", "user_id")
        .orderBy("event_id").collect()
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      def spanJson(r: org.apache.spark.sql.Row): String = {
        val id = r.getLong(0)
        val t = r.getTimestamp(1).toInstant
        val ns = t.getEpochSecond * 1000000000L + t.getNano
        s"""{"traceId":"${f"$id%032x"}","spanId":"${f"$id%016x"}",
           |"name":${m.writeValueAsString(m.getNodeFactory.textNode(r.getString(2)))},
           |"kind":2,"startTimeUnixNano":"$ns",
           |"endTimeUnixNano":"${ns + 1000000L}",
           |"attributes":[{"key":"user_id",
           |"value":{"intValue":"${r.getLong(3)}"}}]}""".stripMargin
      }
      val srv = new Otlp.HttpServer()
      try {
        val client = Http.javaClient()
        val reqs = seed.grouped(100).zipWithIndex.map { case (batch, i) =>
          val body =
            s"""{"resourceSpans":[{"resource":{"attributes":[
               |{"key":"service.name","value":{"stringValue":"events-svc"}}]},
               |"scopeSpans":[{"scope":{"name":"graft"},
               |"spans":[${batch.map(spanJson).mkString(",")}]}]}]}""".stripMargin
          if (i % 2 == 0)
            Http.Request(srv.url("trace"), "POST",
              Map("Content-Type" -> "application/json"), body)
          else
            Http.Request(srv.url("trace"), "POST",
              Map("Content-Type" -> "application/x-protobuf"), "",
              bodyBytes = Otlp.encodeRequest("trace",
                m.writeValueAsString(Otlp.parseRequest(
                  "trace", "json", body.getBytes("UTF-8")))))
        }.toSeq
        val rs = client(reqs)
        require(rs.forall(_.status == 200), "otlp: post failed")
        Otlp.unbatchDf(srv.drain(s))
          .select(
            conv(substring(get_json_object(col("value"), "$.traceId"),
              17, 16), 16, 10).cast("long").as("event_id"),
            get_json_object(col("value"), "$.name").as("name"),
            // intValue is an AnyValue ONEOF member: set-but-zero is
            // serialized (never default-omitted), so 0 survives the wire
            get_json_object(col("value"),
              "$.attributes[0].value.intValue").cast("long").as("uid"),
            get_json_object(col("value"), "$.startTimeUnixNano")
              .cast("long").as("start_ns"),
            get_json_object(col("value"),
              "$.resource.attributes[0].value.stringValue").as("svc"),
            col("metadata")("otel_encoding").as("enc"))
          .orderBy(col("event_id"))
          // collected before stop(): the server must outlive the scan
          .localCheckpoint()
      } finally srv.stop()
    }),

    "p_otlp_export" -> ((s, d) => {
      // otlp_http OUTPUT half (output_http.go): per-span messages are
      // re-grouped into export requests EXECUTOR-SIDE (rebatch =
      // TracesFromRedpanda's sequential resource/scope collapse),
      // POSTed as protobuf with bearer auth to the real loopback
      // receiver, then decoded back — the full output→input loop
      // hash-gated relationally.
      import graft.sources.Otlp
      val seed = Tables.events(s, d).filter(col("event_id") < 800)
        .select("event_id", "ts", "event_type", "user_id")
        .orderBy("event_id").collect()
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val msgs = seed.map { r =>
        val id = r.getLong(0)
        val t = r.getTimestamp(1).toInstant
        val ns = t.getEpochSecond * 1000000000L + t.getNano
        val name = m.writeValueAsString(
          m.getNodeFactory.textNode(r.getString(2)))
        s"""{"resource":{"attributes":[{"key":"service.name",""" +
          s""""value":{"stringValue":"events-svc"}}]},""" +
          s""""scope":{"name":"graft"},""" +
          s""""traceId":"${f"$id%032x"}","spanId":"${f"$id%016x"}",""" +
          s""""name":$name,"kind":2,"startTimeUnixNano":"$ns",""" +
          s""""endTimeUnixNano":"${ns + 1000000L}",""" +
          s""""attributes":[{"key":"user_id",""" +
          s""""value":{"intValue":"${r.getLong(3)}"}}]}"""
      }
      val rows = msgs.zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.Row(v,
          Map("otel_signal_type" -> "trace"), null, i.toLong)
      }
      val df = s.createDataFrame(
        s.sparkContext.parallelize(rows.toSeq, 4),
        graft.sources.BrokerStream.schema)
      val srv = new Otlp.HttpServer(authToken = Some("graft-token"))
      try {
        Otlp.export(df, s"http://127.0.0.1:${srv.port}",
          contentType = "protobuf", authToken = Some("graft-token"))
        Otlp.unbatchDf(srv.drain(s))
          .select(
            conv(substring(get_json_object(col("value"), "$.traceId"),
              17, 16), 16, 10).cast("long").as("event_id"),
            get_json_object(col("value"), "$.name").as("name"),
            get_json_object(col("value"),
              "$.attributes[0].value.intValue").cast("long").as("uid"),
            get_json_object(col("value"), "$.startTimeUnixNano")
              .cast("long").as("start_ns"),
            get_json_object(col("value"),
              "$.resource.attributes[0].value.stringValue").as("svc"))
          .orderBy(col("event_id"))
          .localCheckpoint()
      } finally srv.stop()
    }),

    "p_otlp_grpc" -> ((s, d) => {
      // otlp_grpc pair (internal/impl/otlp/input_grpc.go): the SAME
      // span traffic as p_otlp_export, but carried as gRPC Export
      // calls over the h2c stack — HPACK headers, length-prefixed
      // protobuf messages, grpc-status trailers — into the gRPC
      // collector, then decoded back through the shared descriptor
      // codec. Output→input loop hash-gated relationally.
      import graft.sources.{Otlp, OtlpGrpc}
      val seed = Tables.events(s, d).filter(col("event_id") < 600)
        .select("event_id", "ts", "event_type", "user_id")
        .orderBy("event_id").collect()
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val msgs = seed.map { r =>
        val id = r.getLong(0)
        val t = r.getTimestamp(1).toInstant
        val ns = t.getEpochSecond * 1000000000L + t.getNano
        val name = m.writeValueAsString(
          m.getNodeFactory.textNode(r.getString(2)))
        s"""{"resource":{"attributes":[{"key":"service.name",""" +
          s""""value":{"stringValue":"events-svc"}}]},""" +
          s""""scope":{"name":"graft"},""" +
          s""""traceId":"${f"$id%032x"}","spanId":"${f"$id%016x"}",""" +
          s""""name":$name,"kind":2,"startTimeUnixNano":"$ns",""" +
          s""""endTimeUnixNano":"${ns + 1000000L}",""" +
          s""""attributes":[{"key":"user_id",""" +
          s""""value":{"intValue":"${r.getLong(3)}"}}]}"""
      }
      val rows = msgs.zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.Row(v,
          Map("otel_signal_type" -> "trace"), null, i.toLong)
      }
      val df = s.createDataFrame(
        s.sparkContext.parallelize(rows.toSeq, 4),
        graft.sources.BrokerStream.schema)
      val srv = new OtlpGrpc.GrpcServer
      try {
        OtlpGrpc.export(df, "127.0.0.1", srv.port)
        Otlp.unbatchDf(srv.drain(s))
          .select(
            conv(substring(get_json_object(col("value"), "$.traceId"),
              17, 16), 16, 10).cast("long").as("event_id"),
            get_json_object(col("value"), "$.name").as("name"),
            get_json_object(col("value"),
              "$.attributes[0].value.intValue").cast("long").as("uid"),
            get_json_object(col("value"), "$.startTimeUnixNano")
              .cast("long").as("start_ns"),
            get_json_object(col("value"),
              "$.resource.attributes[0].value.stringValue").as("svc"))
          .orderBy(col("event_id"))
          .localCheckpoint()
      } finally srv.stop()
    }),

    "p_otlp_metrics" -> ((s, d) => {
      // otlp_http metrics ingest (otlpconv/metric.go): one gauge
      // metric per event (single NumberDataPoint), mixed JSON/proto
      // requests, unbatched to one message per metric; double
      // round-trip fidelity (doubleToLongBits on the wire) is the
      // point of the hash gate.
      import graft.sources.Otlp
      import graft.operators.Http
      val seed = Tables.events(s, d).filter(col("event_id") < 1000)
        .select("event_id", "ts", "event_type", "value")
        .orderBy("event_id").collect()
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      def metricJson(r: org.apache.spark.sql.Row): String = {
        val t = r.getTimestamp(1).toInstant
        val ns = t.getEpochSecond * 1000000000L + t.getNano
        s"""{"name":${m.writeValueAsString(m.getNodeFactory.textNode(r.getString(2)))},
           |"unit":"1","gauge":{"dataPoints":[
           |{"attributes":[{"key":"event_id",
           |"value":{"intValue":"${r.getLong(0)}"}}],
           |"timeUnixNano":"$ns","asDouble":${r.getDouble(3)}}]}}""".stripMargin
      }
      val srv = new Otlp.HttpServer()
      try {
        val client = Http.javaClient()
        val reqs = seed.grouped(100).zipWithIndex.map { case (batch, i) =>
          val body =
            s"""{"resourceMetrics":[{"resource":{"attributes":[
               |{"key":"service.name","value":{"stringValue":"events-svc"}}]},
               |"scopeMetrics":[{"scope":{"name":"meter"},
               |"metrics":[${batch.map(metricJson).mkString(",")}]}]}]}""".stripMargin
          if (i % 2 == 0)
            Http.Request(srv.url("metric"), "POST",
              Map("Content-Type" -> "application/json"), body)
          else
            Http.Request(srv.url("metric"), "POST",
              Map("Content-Type" -> "application/x-protobuf"), "",
              bodyBytes = Otlp.encodeRequest("metric",
                m.writeValueAsString(Otlp.parseRequest(
                  "metric", "json", body.getBytes("UTF-8")))))
        }.toSeq
        val rs = client(reqs)
        require(rs.forall(_.status == 200), "otlp: post failed")
        Otlp.unbatchDf(srv.drain(s))
          .select(
            // intValue is an AnyValue ONEOF member: event_id 0 is
            // serialized set-but-zero, never default-omitted
            get_json_object(col("value"),
              "$.gauge.dataPoints[0].attributes[0].value.intValue")
              .cast("long").as("event_id"),
            get_json_object(col("value"), "$.name").as("mname"),
            get_json_object(col("value"), "$.gauge.dataPoints[0].asDouble")
              .cast("double").as("val"),
            get_json_object(col("value"), "$.gauge.dataPoints[0].timeUnixNano")
              .cast("long").as("t_ns"))
          .orderBy(col("event_id"))
          .localCheckpoint()
      } finally srv.stop()
    }),

    "p_nats_subjects" -> ((s, d) => {
      // NATS subject-space contract (inputs/nats_jetstream.adoc via
      // the PubSub seam): publish documents to per-language subjects,
      // read back with a subject filter — selection, global stream
      // sequence, and metadata against a pure-SQL oracle. Single-
      // partition publish pins the sequence (PubSubSpec covers the
      // competing-publishers path).
      import graft.sources.PubSub
      val name = "ns_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val addr = s"mem://$name"
      val docs = Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(to_json(struct(col("doc_id"))).as("value"),
          concat(lit("doc."), col("lang")).as("__subject"), col("doc_id"))
        .coalesce(1).sortWithinPartitions(col("doc_id"))
      PubSub.write(docs, addr, "__subject")
      PubSub.read(s, "nats", addr, "doc.en").select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          col("metadata")("nats_subject").as("subject"),
          col("metadata")("nats_sequence").cast("long").as("seq"))
        .orderBy(col("doc_id"))
    }),

    "p_jira_incremental" -> ((s, d) => {
      // jira input contract end-to-end (inputs/jira.adoc via the
      // Jira.InMemoryServer seam): orders become issues (updated =
      // order date). Sweep 1 reads the pre-1996 corpus and persists
      // the cursor; the server then gains the rest and sweep 2 must
      // emit ONLY the new issues — the `updated >=` threshold
      // re-matches every issue sharing the sweep-1 boundary date, and
      // the seen-map suppresses those already-delivered versions (the
      // incremental semantics the cursor exists for). Jira.read pages
      // EAGERLY at call time (driver admission), so the two sweeps
      // against a mutating corpus compose without checkpoints.
      import graft.sources.Jira
      import graft.sources.Jira.InMemoryServer.{Issue, Transport}
      val cutoff = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
      val ords = Tables.orders(s, d).filter(col("o_orderkey") < 400)
        .select("o_orderkey", "o_orderdate").collect()
      def issue(r: org.apache.spark.sql.Row) = Issue(
        key = f"ORD-${r.getLong(0)}%06d",
        project = "P" + (r.getLong(0) % 3),
        updatedMs = r.getTimestamp(1).getTime, summary = "")
      val early = ords.filter(_.getTimestamp(1).before(cutoff))
        .map(issue).toSeq
      val store = new Jira.MemStore
      val auth = Jira.Auth("bot@x.test", "tok")
      def sweep(corpus: Seq[Issue], n: Int) =
        Jira.read(s, "https://x.test", auth, client = Transport(corpus),
            cursor = Some((store, "cur")), pageSize = 25)
          .select(col("metadata")("jira_id").as("jira_id"),
            col("metadata")("jira_project").as("project"),
            unix_micros(to_timestamp(col("metadata")("jira_updated")))
              .as("updated_us"),
            lit(n).as("sweep"))
      val s1 = sweep(early, 1)
      val s2 = sweep(ords.map(issue).toSeq, 2)
      s1.unionByName(s2).orderBy(col("jira_id"))
    }),

    "p_slack_users" -> ((s, d) => {
      // slack_users input contract (inputs/slack_users.adoc via the
      // Slack.InMemoryServer seam): customers become workspace members
      // (team = market segment); the cursor-paginated users.list walk
      // with a server-side team_id filter must return exactly the
      // segment's customers — pagination, filtering, and raw-JSON body
      // extraction against a pure-SQL oracle.
      import graft.sources.Slack
      import graft.sources.Slack.InMemoryServer.{Transport, User}
      val members = Tables.customer(s, d).filter(col("c_custkey") < 500)
        .select("c_custkey", "c_name", "c_mktsegment").collect()
        .map(r => User(f"U${r.getLong(0)}%06d", r.getString(2),
          r.getString(1), r.getString(1))).toSeq
      Slack.usersRead(s, "xoxb-demo", teamId = "BUILDING", limit = 40,
          baseUrl = "mem://unused", client = Transport(members))
        .select(
          get_json_object(col("value"), "$.id").as("user_id"),
          get_json_object(col("value"), "$.team_id").as("team_id"),
          get_json_object(col("value"), "$.name").as("name"))
        .orderBy(col("user_id"))
    }),

    "p_registry_sync" -> ((s, d) => {
      // bulk schema_registry input (inputs/schema_registry.adoc via
      // the SchemaRegistryIO.InMemoryServer seam): nations seed a
      // registry (version count varies per subject, ids encode
      // subject+version); the subject/version walk with fetch_in_order
      // must emit every version exactly once, sorted by schema id.
      import graft.sources.SchemaRegistryIO
      import graft.sources.SchemaRegistryIO.InMemoryServer.{Entry, Transport}
      val entries = Tables.nation(s, d)
        .select("n_nationkey", "n_name").collect()
        .flatMap { r =>
          val k = r.getAs[Number](0).longValue; val name = r.getString(1)
          (1 to (k % 3 + 1).toInt).map(v =>
            Entry(s"nat-$name", v, (k * 10 + v).toInt,
              s"""{"type":"v$v"}"""))
        }.toIndexedSeq
      SchemaRegistryIO.read(s, "mem://unused", client = Transport(entries))
        .select(
          col("metadata")("schema_registry_subject").as("subject"),
          col("metadata")("schema_registry_version").cast("int")
            .as("version"),
          get_json_object(col("value"), "$.id").cast("long")
            .as("schema_id"))
        .orderBy(col("schema_id"))
    }),

    "p_twitter_search" -> ((s, d) => {
      // twitter_search contract (the reference's template re-expressed
      // as a first-class input, via the Twitter.InMemoryServer seam):
      // events become tweets; sweep 1 backfills and persists
      // newest_id, then the corpus grows and sweep 2 must emit ONLY
      // ids past the since_id cursor. Auth is the real two-step
      // client-credentials exchange against the fake.
      import graft.sources.{Cursors, Twitter}
      import graft.sources.Twitter.InMemoryServer.{Transport, Tweet}
      // a poll emits at most max_results=100 (the template does not
      // paginate the recent-search endpoint) — keep each sweep ≤ 100
      val evts = Tables.events(s, d).filter(col("event_id") < 200)
        .select("event_id", "event_type").orderBy("event_id").collect()
        .map(r => Tweet(5000 + r.getLong(0), r.getString(1))).toIndexedSeq
      val store = new Cursors.MemStore
      def sweep(corpus: Seq[Tweet], n: Int) =
        Twitter.searchRead(s, "q", "key", "secret",
            client = Transport(corpus), cursor = Some((store, "c")),
            nowMs = 0L)
          .select(
            get_json_object(col("value"), "$.id").cast("long")
              .as("tweet_id"),
            get_json_object(col("value"), "$.text").as("text"),
            lit(n).as("sweep"))
      val s1 = sweep(evts.take(100), 1)
      val s2 = sweep(evts, 2)
      s1.unionByName(s2).orderBy(col("tweet_id"))
    }),

    "p_discord_backfill" -> ((s, d) => {
      // discord input contract (inputs/discord.adoc via the
      // Discord.InMemoryServer seam): documents become channel
      // messages; the forward backfill over newest-first pages must
      // emit every message exactly once, oldest-first — ids, bodies,
      // and emission order against a pure-SQL oracle.
      import graft.sources.Discord
      import graft.sources.Discord.InMemoryServer.{Msg, Transport}
      val msgs = Tables.documents(s, d).filter(col("doc_id") < 250)
        .select("doc_id", "lang").collect()
        .map(r => Msg(1000 + r.getLong(0), "C1",
          s"doc-${r.getLong(0)}:${r.getString(1)}", "A1")).toIndexedSeq
      Discord.read(s, "C1", "tok", client = Transport(msgs), limit = 40)
        .select(
          get_json_object(col("value"), "$.id").cast("long").as("msg_id"),
          get_json_object(col("value"), "$.content").as("content"),
          col("__seq").as("emit_order"))
        .orderBy(col("msg_id"))
    }),

    "p_splunk_export" -> ((s, d) => {
      // splunk input contract (inputs/splunk.adoc via the
      // Splunk.InMemoryServer seam): events become search results; the
      // export stream's NDJSON lines parse back to the exact relational
      // rows (double round-trip through Double.toString is exact), and
      // __seq must equal the stream offset.
      import graft.sources.Splunk
      import graft.sources.Splunk.InMemoryServer.Transport
      val evts = Tables.events(s, d).filter(col("event_id") < 300)
        .select(col("event_id"), col("event_type"), col("value"))
        .orderBy("event_id").collect()
        .map(r => s"""{"event_id":${r.getLong(0)},""" +
          s""""event_type":"${r.getString(1)}","value":${r.getDouble(2)}}""")
        .toIndexedSeq
      Splunk.searchRead(s, "mem://unused/services/search/v2/jobs/export",
          "admin", "pw", "index=events", client = Transport(evts))
        .select(
          get_json_object(col("value"), "$.result.event_id").cast("long")
            .as("event_id"),
          get_json_object(col("value"), "$.result.event_type").as("etype"),
          get_json_object(col("value"), "$.result.value").cast("double")
            .as("val"),
          col("__seq").as("offset"))
        .orderBy(col("event_id"))
    }),

    "p_redis_streams" -> ((s, d) => {
      // Redis streams contract (inputs/redis_streams.adoc via the
      // store seam): XADD documents with explicit monotonic ids and a
      // lang metadata field, XRANGE them back — body extraction,
      // entry-id metadata (`redis_stream`), and extra-field→metadata
      // routing against a pure-SQL oracle.
      import graft.sources.Redis
      val name = "rs_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val addr = s"mem://$name"
      val docs = Tables.documents(s, d).filter(col("doc_id") < 150)
        .select(col("doc_id"),
          to_json(struct(col("doc_id"))).as("value"),
          map(lit("lang"), col("lang")).as("metadata"))
      Redis.streamWrite(docs, addr, "evts",
        idCol = concat((col("doc_id") + 1).cast("string"), lit("-0")),
        valueCol = col("value"), orderCol = col("doc_id"),
        metadataCol = Some("metadata"))
      Redis.streamsRead(s, addr, Seq("evts"))
        .select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
          col("metadata")("redis_stream").as("sid"),
          col("metadata")("lang").as("lang"))
        .orderBy(col("doc_id"))
    }),

    "p_retry" -> ((s, d) => {
      // `retry` (processors/retry.adoc:26) through the config runner,
      // around a `cache` get child: hits resolve on the first pass,
      // deterministic misses stay errored after max_retries bounded
      // re-runs — and no row is lost or duplicated on the way
      Tables.documents(s, d).filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").cast("string").as("key"),
          col("lang").as("value"))
        .createOrReplaceTempView("cache_langs")
      val env0 = Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id").as("__seq"),
          col("doc_id").cast("string").as("value"),
          map().cast("map<string,string>").as("metadata"))
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper(
        new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
      val node = mapper.readTree(
        """retry:
          |  max_retries: 2
          |  processors:
          |    - cache: { resource: langs, operator: get }
          |""".stripMargin)
      graft.config.Processors.compile(node, Map.empty)(env0)
        .select(col("__seq").as("doc_id"), col("value"), col("error"))
        .orderBy(col("doc_id"))
    }),

    "p_geoip" -> ((s, d) => {
      // geoip_* family (methods.adoc:4492-4557) as a broadcast RANGE
      // join: events get a synthetic dotted-quad, nations provide the
      // /13-sized ranges (25 × 8 second-octets = complete cover of
      // user_id % 200)
      val ev = Tables.events(s, d).withColumn("ip",
        concat(lit("10."), (col("user_id") % 200).cast("string"), lit(".5.9")))
      val ranges = Tables.nation(s, d).select(
        concat(lit("10."), (col("n_nationkey") * 8).cast("string"), lit(".0.0"))
          .as("range_start"),
        concat(lit("10."), (col("n_nationkey") * 8 + 7).cast("string"),
          lit(".255.255")).as("range_end"),
        col("n_name").as("country"))
      Joins.ipRangeLookup(ev, ranges, "ip")
        .groupBy(col("country")).agg(count(lit(1)).as("n"))
        .orderBy(col("country"))
    }),

    "p_http_enrich" -> ((s, d) => {
      // `http` enrichment (processors/http.adoc:26) over the stub
      // transport: per-row POST of the doc as the request body, the
      // response replaces `value`; every 10th doc routes to /missing →
      // 404 → error channel set, original value intact. The oracle
      // reproduces the echo body per row, so a batching transport that
      // shifted responses one row off would hash-mismatch.
      import graft.operators.Http
      val base = Tables.documents(s, d)
        .filter(col("doc_id") < 500 && col("lang").isNotNull)
        .select(col("doc_id"),
          to_json(struct(col("doc_id"), col("lang"))).as("value"))
      val url = concat(lit("stub://enrich/"),
        when(col("doc_id") % 10 === 0, lit("missing")).otherwise(lit("ok")))
      Http.enrich(base, url, "POST", Map.empty, 16, Http.echoClient)
        .select(col("doc_id"), col("value"), col("error"))
        .orderBy(col("doc_id"))
    }),

    "p_geoip_mmdb" -> ((s, d) => {
      // geoip_* against a REAL .mmdb file (MmdbReader, public MaxMind
      // DB spec 2.0): the fixture db is built deterministically from
      // the nation table (nation n owns 10.<8n>.0.0/13, the same /13
      // cover as p_geoip), so the oracle recomputes the mapping
      // relationally while Spark goes through the binary format
      import graft.functions.expressions.MmdbWriter
      val F = com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
      val nations = Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name")).collect()
        .map(r => (r.getAs[Number](0).longValue, r.getString(1))).sortBy(_._1)
      val dbFile = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_nations.mmdb")
      MmdbWriter.write(dbFile.getPath, nations.toSeq.map { case (k, name) =>
        (s"10.${k * 8}.0.0", 13,
          F.objectNode().set[com.fasterxml.jackson.databind.JsonNode]("country",
            F.objectNode().put("iso_code", name)): com.fasterxml.jackson.databind.JsonNode)
      })
      // the mmdb trie walk + JSON round-trip is a per-row CPU kernel:
      // spread the single parquet split across cores before it (same
      // rationale as p_javascript; at real scale file splits already
      // provide the parallelism — Spread.spread is a no-op there, r20:
      // the r19 unconditional repartition would have forced a needless
      // exchange AND capped scan parallelism on a multi-split input).
      // Project to the two consumed columns BEFORE the exchange so the
      // props payload never shuffles.
      val ev = graft.operators.Spread.spread(Tables.events(s, d)
          .select(col("event_id"), col("user_id")), col("event_id"))
        .withColumn("ip",
          concat(lit("10."), (col("user_id") % 200).cast("string"), lit(".5.9")))
      ev.select(col("event_id"),
          get_json_object(call_function("graft_geoip_lookup",
            col("ip"), lit(dbFile.getPath)), "$.country.iso_code").as("country"))
        .groupBy(col("country")).agg(count(lit(1)).as("n"))
        .orderBy(col("country"))
    }),

    "m_media_meta" -> ((s, d) => {
      // multimodal metadata: synthesize PNG headers from doc dims, then
      // header-sniff (no decode) via Multimodal.withMediaMeta — blobs
      // stay where they were scanned, a narrow map
      val blobs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"),
          (col("doc_id") % 640 + 1).cast("int").as("w"),
          (col("doc_id") % 480 + 1).cast("int").as("h"))
        .withColumn("blob", unhex(concat(
          lit("89504E470D0A1A0A0000000D49484452"),
          lpad(hex(col("w")), 8, "0"), lpad(hex(col("h")), 8, "0"))))
      Multimodal.withMediaMeta(blobs, "blob")
        .select(col("doc_id"), col("meta.mime").as("mime"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .orderBy(col("doc_id"))
    }),

    "m_video_frames" -> ((s, d) => {
      // REAL video decode: per doc, synthesize an MJPEG-in-AVI (ImageIO
      // JPEG frames in a RIFF container, all executor-side), then
      // frame-sample every 2nd frame and header-sniff each extracted
      // JPEG — count/order/dimensions are all SQL-checkable. Blobs
      // never shuffle: synth → extract → sniff is one narrow map chain.
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      val docs = Tables.documents(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"))
      val blobSchema = StructType(Seq(StructField("doc_id", LongType),
        StructField("blob", BinaryType)))
      val blobs = docs.mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val w = 8 + (id % 4).toInt * 4
          val n = (id % 5).toInt + 1
          val frames = (0 until n).map { i =>
            val img = new java.awt.image.BufferedImage(w, 8,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = img.createGraphics()
            g.setColor(new java.awt.Color(i * 40 % 256, 64, 128))
            g.fillRect(0, 0, w, 8); g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "jpg", bos)
            bos.toByteArray
          }
          Row(id, Multimodal.mjpegAvi(frames, w, 8))
        }
      }(Encoders.row(blobSchema))
      val frames = Multimodal.videoFrames(blobs, "blob", everyNth = 2)
      Multimodal.withMediaMeta(frames, "frame")
        .select(col("doc_id"), col("frame_idx"),
          col("meta.mime").as("mime"), col("meta.width").as("width"),
          col("meta.height").as("height"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    "p_parquet_blob" -> ((s, d) => {
      // parquet file as a VALUE (reference parquet_decode/encode
      // processors): fold each region's nations into one in-memory
      // parquet blob, then decode it back to rows
      val schema =
        "message nation { required int64 id; required binary name (UTF8); }"
      val docs = Tables.nation(s, d)
        .select(col("n_regionkey").as("rk"), col("n_nationkey").as("id"),
          col("n_name").as("name"))
      val arch = BatchOps.archiveJsonArray(docs, col("rk"),
        to_json(struct(col("id"), col("name"))), col("id"))
      arch.withColumn("blob",
          call_function("graft_parquet_encode", col("archived"), lit(schema)))
        .select(col("key"),
          explode(from_json(call_function("graft_parquet_decode", col("blob")),
            lit("array<struct<id:bigint,name:string>>"))).as("r"))
        .select(col("key"), col("r.id").as("id"), col("r.name").as("name"))
        .orderBy(col("id"))
    }),

    "q14_intersect" -> ((s, d) => {
      // set op: users who did BOTH a purchase and an error event
      val ev = Tables.events(s, d)
      ev.filter(col("event_type") === "purchase").select(col("user_id")).distinct()
        .intersect(ev.filter(col("event_type") === "error")
          .select(col("user_id")).distinct())
        .orderBy(col("user_id"))
    }),

    "p_sharded_join" -> ((s, d) => {
      // sequence sharded_join, full-outer + array merge
      // (docs/…/inputs/sequence.adoc:94-229): customers = main input,
      // their order keys gather into a per-id array
      val main = Tables.customer(s, d)
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val orders = Tables.orders(s, d).filter(col("o_orderkey") < 5000)
        .select(col("o_custkey").as("id"), col("o_orderkey").as("order_key"))
      // arrayFields given explicitly — the at-scale form (skips the
      // repeated-field inference pass over each input)
      Joins.shardedJoin(Seq(main, orders), "id",
          joinType = "full-outer", mergeStrategy = "array",
          arrayFields = Some(Set("order_key")))
        .select(col("id"), col("name"),
          array_join(transform(col("order_key"), x => x.cast("string")), ",")
            .as("orders"))
        .orderBy(col("id"))
    }),

    "p_hydration" -> ((s, d) => {
      // cache-hydration enrichment join
      // (config/examples/joining_streams.yaml:82-131): events hydrate
      // from a keyed dim; misses pass through with nulls
      val cache = Tables.customer(s, d)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
      Joins.hydrationJoin(Tables.events(s, d), cache, "user_id")
        .groupBy(col("segment")).agg(count(lit(1)).as("n"))
        .orderBy(col("segment"))
    }),

    "p_enrich_lookup" -> ((s, d) =>
      // branch-form enrichment lookup (processors/branch.adoc:26 +
      // sql_select.adoc:26): lineitems enriched with part brand
      Joins.enrichmentLookup(
          Tables.lineitem(s, d).filter(col("l_orderkey") < 1000)
            .select(col("l_orderkey"), col("l_partkey"), col("l_quantity")),
          Tables.part(s, d), col("l_partkey"), "p_partkey", Seq("p_brand"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("qty"))
        .orderBy(col("p_brand"))),

    // ── codecs (graft.functions.CodecFunctions, SURVEY.md §2.10) ─────
    "p_compress" -> ((s, d) => {
      // compress/decompress roundtrip (processors/compress.adoc:26);
      // byte-level output is impl-specific so the gate checks identity
      import graft.functions.{CodecFunctions => C}
      C.register(s)
      // sort-below-kernel: orderBy the raw scan, project after — the
      // range exchange's sampling pass then re-reads the scan instead of
      // re-running the (expensive) codec kernel; per-row projections
      // preserve the sort order (same pattern on every kernel query)
      Tables.documents(s, d).orderBy(col("doc_id"))
        .select(col("doc_id"),
          (C.decompress(C.compress(col("text"), "gzip"), "gzip")
            .cast("string") === col("text")).as("gzip_ok"),
          (C.decompress(C.compress(col("text"), "zstd"), "zstd")
            .cast("string") === col("text")).as("zstd_ok"),
          (C.decompress(C.compress(col("text"), "snappy"), "snappy")
            .cast("string") === col("text")).as("snappy_ok"))
    }),

    "p_avro_roundtrip" -> ((s, d) => {
      // avro datum encode/decode with inline schema
      // (internal/impl/avro/scanner.go:65)
      import graft.functions.{CodecFunctions => C}
      C.register(s)
      val schema =
        """{"type":"record","name":"doc","fields":[
          |{"name":"doc_id","type":"long"},{"name":"lang","type":"string"}]}"""
          .stripMargin.replace("\n", "")
      val json = to_json(struct(col("doc_id"), col("lang")))
      val rt = C.avroDecode(C.avroEncode(json, schema), schema)
      Tables.documents(s, d).orderBy(col("doc_id"))
        .select(col("doc_id"), get_json_object(rt, "$.lang").as("lang_rt"))
    }),

    "p_wire_format" -> ((s, d) => {
      // schema-registry wire format: magic 0 + schema id + datum
      // (internal/impl/confluent, schema_registry_encode.adoc:26)
      import graft.functions.{CodecFunctions => C}
      C.register(s)
      val schema =
        """{"type":"record","name":"e","fields":[
          |{"name":"event_id","type":"long"},{"name":"event_type","type":"string"}]}"""
          .stripMargin.replace("\n", "")
      val json = to_json(struct(col("event_id"), col("event_type")))
      val wire = C.wireEncode(json, schema, 7)
      Tables.events(s, d).orderBy(col("event_id"))
        .select(col("event_id"),
          get_json_object(C.wireDecode(wire, schema), "$.event_type").as("etype_rt"))
    }),

    "p_wire_registry" -> ((s, d) => {
      // provider-resolved wire format (internal/impl/confluent/ client
      // contract): TWO schema ids live in the same stream and resolve
      // per row through a map-backed SchemaProvider; an unregistered id
      // (7) keeps the message and takes the error channel
      import graft.functions.{CodecFunctions => C}
      import graft.functions.expressions.MapSchemaProvider
      C.register(s)
      val schemaE =
        """{"type":"record","name":"e","fields":[
          |{"name":"event_id","type":"long"},{"name":"event_type","type":"string"}]}"""
          .stripMargin.replace("\n", "")
      val schemaU =
        """{"type":"record","name":"u","fields":[
          |{"name":"event_id","type":"long"},{"name":"uid","type":"string"}]}"""
          .stripMargin.replace("\n", "")
      val provider = MapSchemaProvider(Map(1 -> schemaE, 2 -> schemaU))
      val jsonE = to_json(struct(col("event_id"), col("event_type")))
      val jsonU = to_json(struct(col("event_id"),
        col("user_id").cast("string").as("uid")))
      val wire = when(col("event_id") % 10 === 0, C.wireEncode(jsonE, schemaE, 7))
        .when(col("event_id") % 2 === 0, C.wireEncode(jsonE, schemaE, 1))
        .otherwise(C.wireEncode(jsonU, schemaU, 2))
      val df = Tables.events(s, d).orderBy(col("event_id"))
        .withColumn("__wire", wire)
      val id = C.wireSchemaId(col("__wire"))
      val known = id.isin(1, 2)
      val decoded = when(known, C.wireDecodeProvider(col("__wire"), provider))
      df.select(col("event_id"),
        get_json_object(decoded, "$.event_type").as("etype_rt"),
        get_json_object(decoded, "$.uid").as("uid_rt"),
        when(!known, concat(lit("schema registry: unknown schema id "), id))
          .as("error"))
    }),

    "p_wire_http_registry" -> ((s, d) => {
      // same stream as p_wire_registry, but ids resolve over the
      // registry's HTTP REST contract (internal/impl/confluent/sr/
      // client.go: GET /schemas/ids/{id} → {"schema": ...}) through the
      // pluggable Http.Client transport — URL construction, JSON
      // envelope parsing, per-executor id caching, and the 404 →
      // unknown-id error path all run for real; only the wire is the
      // deterministic stub transport. Unknown id 7 returns the
      // registry's 404 and the lenient decode routes the row to the
      // error channel instead of killing the task.
      import graft.functions.{CodecFunctions => C}
      import graft.functions.expressions.HttpSchemaProvider
      C.register(s)
      val schemaE =
        """{"type":"record","name":"e","fields":[
          |{"name":"event_id","type":"long"},{"name":"event_type","type":"string"}]}"""
          .stripMargin.replace("\n", "")
      val schemaU =
        """{"type":"record","name":"u","fields":[
          |{"name":"event_id","type":"long"},{"name":"uid","type":"string"}]}"""
          .stripMargin.replace("\n", "")
      val provider = new HttpSchemaProvider("stub://registry",
        client = HttpSchemaProvider.stubTransport(
          Map(1 -> schemaE, 2 -> schemaU)))
      val jsonE = to_json(struct(col("event_id"), col("event_type")))
      val jsonU = to_json(struct(col("event_id"),
        col("user_id").cast("string").as("uid")))
      val wire = when(col("event_id") % 10 === 0, C.wireEncode(jsonE, schemaE, 7))
        .when(col("event_id") % 2 === 0, C.wireEncode(jsonE, schemaE, 1))
        .otherwise(C.wireEncode(jsonU, schemaU, 2))
      val df = Tables.events(s, d).orderBy(col("event_id"))
        .withColumn("__wire", wire)
        .withColumn("__dec",
          C.wireDecodeProvider(col("__wire"), provider, lenient = true))
      val id = C.wireSchemaId(col("__wire"))
      df.select(col("event_id"),
        get_json_object(col("__dec"), "$.event_type").as("etype_rt"),
        get_json_object(col("__dec"), "$.uid").as("uid_rt"),
        when(col("__dec").isNull,
          concat(lit("schema registry: unknown schema id "), id))
          .as("error"))
    }),

    "p_grok" -> ((s, d) => {
      // grok template → single compiled regex (processors/grok.adoc:26);
      // log lines synthesized from events, fields parsed back out
      val line = concat(
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), lit(" INFO "),
        col("user_id"), lit(" evt="), col("event_type"))
      val df = Tables.events(s, d).orderBy(col("event_id"))
        .withColumn("line", line)
      operators.Grok.parse(df, col("line"),
          "%{TIMESTAMP_ISO8601:tstamp} %{LOGLEVEL:level} %{WORD:guser} evt=%{WORD:etype}")
        .select(col("event_id"), col("tstamp"), col("level"),
          col("guser"), col("etype"))
    }),

    "p_parse_log" -> ((s, d) => {
      // parse_log syslog (processors/parse_log.adoc:26): RFC 5424 lines
      // synthesized from events; <PRI>, timestamp, host, app and the
      // free-text message parsed back out as a struct
      import graft.functions.{CodecFunctions => C}
      val pri = (lit(128) + pmod(col("event_id"), lit(8))).cast("string")
      val line = concat(lit("<"), pri, lit(">1 "),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), lit("Z "),
        lit("host-"), col("user_id").cast("string"),
        lit(" app - - - evt="), col("event_type"))
      Tables.events(s, d).orderBy(col("event_id"))
        .withColumn("r", C.parseSyslog(line, "rfc5424"))
        .select(col("event_id"),
          col("r.facility").as("facility"), col("r.severity").as("severity"),
          col("r.ts").as("tsp"), col("r.host").as("host"),
          col("r.app").as("app"), col("r.message").as("message"))
    }),

    "p_logfmt" -> ((s, d) => {
      // parse_logfmt (methods.adoc parsing section): k=v line → map
      import graft.functions.{CodecFunctions => C}
      val line = concat(lit("user="), col("user_id"),
        lit(" type="), col("event_type"), lit(" id="), col("event_id"))
      val m = C.parseLogfmt(line)
      Tables.events(s, d).orderBy(col("event_id"))
        .select(col("event_id"),
          element_at(m, "user").as("luser"),
          element_at(m, "type").as("ltype"),
          element_at(m, "id").cast("bigint").as("lid"))
    }),

    "p_yaml" -> ((s, d) => {
      // parse_yaml → JSON (methods.adoc parsing section)
      import graft.functions.{CodecFunctions => C}
      C.register(s)
      val yaml = concat(lit("lang: "), col("lang"), lit("\nid: "), col("doc_id"))
      Tables.documents(s, d).orderBy(col("doc_id"))
        .select(col("doc_id"),
          get_json_object(C.parseYaml(yaml), "$.lang").as("ylang"))
    }),

    "p_counter" -> ((s, d) =>
      // count(name): named per-key sequence (bloblang functions.adoc
      // counter/count) — each user's events numbered by arrival
      BatchOps.namedCounter(
          Tables.events(s, d).select(col("event_id"), col("user_id")),
          col("user_id"), col("event_id"))
        .filter(col("seq") <= 3)
        .orderBy(col("user_id"), col("seq"))),

    "p_cached" -> ((s, d) =>
      // `cached` memoization (processors/cached.adoc:26): compute once
      // per distinct key, join back — same result as computing per row
      Resources.cachedCompute(
          Tables.documents(s, d).select(col("doc_id"), col("lang")), "lang",
          keys => keys.withColumn("lang_tag",
            concat(upper(col("lang")), lit("-"), length(col("lang")).cast("string"))))
        .orderBy(col("doc_id"))),

    "p_rerank" -> ((s, d) => {
      // rerank (cohere_rerank family): lexical token-overlap scorer,
      // top-5 docs for a fixed query
      val q = "data pipeline processing engine"
      val pairs = Tables.documents(s, d)
        .select(lit(0L).as("query_id"), lit(q).as("query"),
          col("text").as("doc"), col("doc_id"))
      Ai.rerank(pairs, "query_id", "query", "doc", 5,
          tieBreak = Seq(col("doc_id")))
        .select(col("doc_id"), col("rank"), col("score"))
        .orderBy(col("rank"))
    }),

    "p_jq" -> ((s, d) =>
      // jq-subset pipeline (processors/jq.adoc:26): filter + extract
      // compiled to one variant projection
      Jq.run(Tables.events(s, d).select(col("event_id"), col("props"))
            .orderBy(col("event_id")),
          "select(.k >= 50) | .k", "props", "k")
        .select(col("event_id"), col("k"))),

    "p_awk" -> ((s, d) => {
      // awk processor (internal/impl/awk/processor.go — graft's own
      // engine, graft.awk.Awk): codec text feeds each message to the
      // program as input; patterns select, fields + printf compute.
      import graft.operators.AwkOps
      val docs = Tables.documents(s, d).filter(col("doc_id") < 400)
        .select(concat_ws(" ", col("doc_id"), col("n_chars"),
          col("lang")).as("value"), col("doc_id"))
      AwkOps.awk(docs,
          """$3 == "en" { printf "%d:%d\n", $1, $2 * 2 }
            |$3 != "en" { print $1 ":" $2 }""".stripMargin,
          codec = "text")
        .select(col("doc_id"), col("value"))
        .orderBy(col("doc_id"))
    }),

    "p_agent" -> ((s, d) => {
      // agent runtime (internal/agent/agent_processor.go:49 +
      // internal/cli/mcp_server.go): each document makes one
      // InvokeAgent gRPC round-trip (handshake `1|1|tcp|addr|grpc`,
      // h2c + redpanda.runtime.v1alpha1 protobuf) to a pooled guest
      // subprocess, and the guest dispatches its work through an MCP
      // `to_upper` tool over HTTP+SSE — the full agent ⇄ MCP loop the
      // reference's `agent` entry point runs. Input is sanitized to
      // printable ASCII so Java/DuckDB upper-casing agree; tool calls
      // are control-plane (one message each), so the gate is bounded.
      import graft.agent.AgentRuntime
      val cmd = Seq(System.getProperty("java.home") + "/bin/java",
        "-cp", System.getProperty("java.class.path"),
        "graft.agent.AgentGuestMain", "tool:to_upper")
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") < 40 && col("text").isNotNull)
        .select(col("doc_id"),
          regexp_replace(substring(col("text"), 1, 40), "[^ -~]", " ")
            .as("value"),
          lit(null).cast("string").as("error"))
        .repartition(2)
      // checkpoint BELOW the sort: the range exchange samples its
      // child, and sampling an un-checkpointed agent projection runs
      // every InvokeAgent round-trip TWICE (the PlanContractSpec
      // kernel-above-sort rule, which a mapPartitions operator can't
      // follow — so materialize once and sort the checkpoint)
      AgentRuntime.processor(docs, cmd, agentMcpUrl(s, "p_agent"))
        .select(col("doc_id"), col("value"))
        .localCheckpoint()
        .orderBy(col("doc_id"))
    }),

    "p_agent_py" -> ((s, d) => {
      // cross-language agent guest (agent_processor.go:92 — the
      // reference's default guest is `uv run agents/<name>.py`): the
      // same full agent ⇄ MCP loop as p_agent, but the guest is the
      // bundled PYTHON program speaking the handshake, h2c gRPC and
      // MCP SSE from its standard library — the ABI proven against a
      // non-JVM peer. Different doc range from p_agent so a shared
      // fixture can't mask a broken guest.
      import graft.agent.AgentRuntime
      val cmd = Seq("python3", AgentRuntime.pythonGuestScript.toString,
        "tool:to_upper")
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") >= 40 && col("doc_id") < 80 &&
          col("text").isNotNull)
        .select(col("doc_id"),
          regexp_replace(substring(col("text"), 1, 40), "[^ -~]", " ")
            .as("value"),
          lit(null).cast("string").as("error"))
        .repartition(2)
      // checkpoint below the sort — see p_agent
      AgentRuntime.processor(docs, cmd, agentMcpUrl(s, "p_agent_py"))
        .select(col("doc_id"), col("value"))
        .localCheckpoint()
        .orderBy(col("doc_id"))
    }),

    "p_wasm" -> ((s, d) => {
      // wasm processor (internal/impl/wasm/processor_wazero.go:31 —
      // graft's own core-spec interpreter, graft.wasm): the guest
      // module ASCII-uppercases each message in place and sets a
      // wasm_len metadata via the benthos_wasm v0 host API; the module
      // binary itself is hand-assembled (WasmAsm) — loops, branches,
      // a guest bump allocator, i64 ptr/len packing all on the wire
      import graft.operators.Wasm
      val docs = Tables.documents(s, d)
        .select(concat_ws(":", col("doc_id"), col("text")).as("value"))
      // CPU-bound row kernel: spread the single small test split
      // across cores first (conditional, r20 — a multi-split input
      // already provides the parallelism and skips the exchange)
      val env = graft.operators.Spread.spread(docs)
        .withColumn("metadata", map().cast("map<string,string>"))
        .withColumn("error", lit(null).cast("string"))
      Wasm.processor(env, graft.wasm.DemoModules.upperLen())
        .select(col("value"),
          element_at(col("metadata"), "wasm_len").cast("bigint")
            .as("wasm_len"))
        .orderBy(col("value"))
    }),

    "p_ffi" -> ((s, d) => {
      // ffi processor (internal/impl/ffi/processor.go:27 — JEP-412
      // downcall bridge, demo .so compiled by FfiDemo): per message,
      // args_mapping feeds the C function `GraftReverseBytes(in, out,
      // len) -> int32`; the result array [return, out-buffer] replaces
      // the body. At cluster scale the .so ships with --files; here
      // the driver-compiled path is visible to the local executors.
      import graft.operators.{Ffi, FfiDemo}
      val lib = FfiDemo.ensureLib()
      val docs = Tables.documents(s, d)
        .select(col("text").as("value"),
          map(lit("doc_id"), col("doc_id").cast("string")).as("metadata"))
        .withColumn("error", lit(null).cast("string"))
      // conditional kernel spread (r20): no-op on multi-split inputs
      val env = graft.operators.Spread.spread(docs)
      Ffi.processor(env, lib, "GraftReverseBytes",
          Ffi.Signature(Ffi.RInt32, Seq(Ffi.Param(Ffi.PBytePtr),
            Ffi.Param(Ffi.PBytePtr, out = true), Ffi.Param(Ffi.PInt32))),
          "root = [content(), content(), content().length()]")
        .select(
          element_at(col("metadata"), "doc_id").cast("bigint").as("doc_id"),
          get_json_object(col("value"), "$[0]").cast("bigint").as("n_bytes"),
          get_json_object(col("value"), "$[1]").as("rev_text"))
        .orderBy(col("doc_id"))
    }),

    "p_redpanda_transform" -> ((s, d) => {
      // redpanda_data_transform (internal/impl/redpanda/
      // processor_data_transform.go:88 — graft's own wasm engine): the
      // guest parses the zigzag-varint record serde in wasm code and
      // byte-reverses each value in place; doc_id rides the header
      // round-trip (host serialize → guest passthrough → host
      // deserialize), so the gate pins the serde on both sides
      import graft.operators.RedpandaTransform
      val docs = Tables.documents(s, d)
        .select(col("text").as("value"),
          map(lit("doc_id"), col("doc_id").cast("string")).as("metadata"))
        .withColumn("error", lit(null).cast("string"))
      // conditional kernel spread (r20): no-op on multi-split inputs
      val env = graft.operators.Spread.spread(docs)
      RedpandaTransform.processor(env,
          graft.wasm.TransformModules.reverseValue(), batchSize = 128)
        .select(
          element_at(col("metadata"), "doc_id").cast("bigint").as("doc_id"),
          col("value").as("rev_text"))
        .orderBy(col("doc_id"))
    }),

    "p_javascript" -> ((s, d) => {
      // the `javascript` processor (processors/javascript.adoc:26):
      // per-message ES5 program over the graft.js engine — string
      // methods, arrow-function filters, ternaries, arithmetic — all
      // SQL-expressible so the full engine path is oracle-gated
      import graft.operators.JavaScript
      val orders = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
      // the JS kernel is CPU-bound: spread the single parquet input
      // split across cores BEFORE the per-row VM work (at real scale
      // file splits already provide this and spread is a no-op — r20:
      // previously an unconditional repartition, which would have
      // forced the exchange there too)
      val env = graft.operators.Spread.spread(orders, col("o_orderkey"))
        .select(to_json(struct(orders.columns.map(col): _*)).as("value"))
      val code =
        """(() => {
          |  let o = benthos.v0_msg_as_structured();
          |  let r = {};
          |  r.o_orderkey = o.o_orderkey;
          |  r.priority_code = o.o_orderpriority.slice(0, 1);
          |  r.prio_words = o.o_orderpriority.split('-').filter(w => w.length > 0).length;
          |  r.bucket = o.o_totalprice < 50000 ? 'small' : (o.o_totalprice < 150000 ? 'mid' : 'big');
          |  r.tag = o.o_orderstatus.toLowerCase() + '-' + (o.o_orderkey % 7);
          |  r.cust_bucket = (o.o_custkey * 7 + 3) % 100;
          |  benthos.v0_msg_set_structured(r);
          |})();
          |""".stripMargin
      JavaScript.processor(env, code)
        .select(from_json(col("value"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "o_orderkey bigint, priority_code string, prio_words bigint, " +
              "bucket string, tag string, cust_bucket bigint")).as("r"))
        .select("r.*")
        .orderBy(col("o_orderkey"))
    }),

    "p_jmespath" -> ((s, d) =>
      // jmespath (processors/jmespath.adoc:26): same path algebra as jq,
      // translated onto the variant compiler (Jq.jmespath)
      Jq.jmespath(Tables.events(s, d).select(col("event_id"), col("props"))
            .orderBy(col("event_id")), "k", "props", "k")
        .select(col("event_id"), col("k"))),

    "p_protobuf" -> ((s, d) => {
      // proto3 wire-format round-trip (processors/protobuf.adoc:26):
      // typed event → proto bytes → JSON, fields must survive
      import graft.functions.{CodecFunctions => C}
      C.register(s)
      val schema = "1:event_id:int64,2:event_type:string,3:value:double"
      val json = to_json(struct(col("event_id"), col("event_type"), col("value")))
      val rt = C.protoDecode(C.protoEncode(json, schema), schema)
      Tables.events(s, d).orderBy(col("event_id"))
        .select(col("event_id"),
          get_json_object(rt, "$.event_type").as("type_rt"),
          get_json_object(rt, "$.value").cast("double").as("value_rt"))
    }),

    "p_msgpack" -> ((s, d) => {
      // msgpack round-trip (processors/msgpack.adoc:26): JSON → bytes →
      // JSON must be the identity on events props
      import graft.functions.{CodecFunctions => C}
      C.register(s)
      val rt = C.msgpackDecode(C.msgpackEncode(
        call_function("graft_json_normalize", col("props"))))
      Tables.events(s, d).orderBy(col("event_id"))
        .select(col("event_id"),
          (rt === call_function("graft_json_normalize", col("props"))).as("rt_ok"),
          get_json_object(rt, "$.k").as("k"))
    }),

    "p_json_schema" -> ((s, d) => {
      // json_schema validation (processors/json_schema.adoc:26): props
      // must be an object with integer k >= 0; violations feed the
      // error channel as messages
      import graft.functions.{CodecFunctions => C}
      C.register(s)
      val schema =
        """{"type":"object","required":["k"],
          |"properties":{"k":{"type":"integer","minimum":0}}}"""
          .stripMargin.replace("\n", "")
      Tables.events(s, d)
        .select(col("event_id"),
          C.jsonSchemaCheck(col("props"), schema).as("violation"))
        .groupBy(col("violation")).agg(count(lit(1)).as("n"))
        .orderBy(col("violation"))
    }),

    "p_xml" -> ((s, d) => {
      // xml processor family (processors/xml.adoc:26): struct → XML →
      // struct round-trip via Spark's native to_xml/from_xml
      val doc = to_xml(struct(col("o_orderkey").as("id"),
        col("o_totalprice").as("price")))
      Tables.orders(s, d).filter(col("o_orderkey") < 2000)
        .orderBy(col("o_orderkey"))
        .select(col("o_orderkey"), from_xml(doc,
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("price",
                org.apache.spark.sql.types.DoubleType)))).as("r"))
        .select(col("o_orderkey"), col("r.id").as("id_rt"),
          col("r.price").as("price_rt"))
    }),

    // ── windowing & streaming state (graft.streaming, batch mode) ────
    "q12_sliding_window" -> ((s, d) =>
      // sliding windows (system_window.adoc:49-51): size 1h, slide 30m —
      // each event lands in two windows
      streaming.Windows.sliding(Tables.events(s, d), "ts", "1 hour",
          "30 minutes", None, Seq.empty,
          Seq(count(lit(1)).as("n_events"), sumd(col("value")).as("total_value")))
        .select(unix_micros(col("window_start")).as("win_start_us"),
          col("n_events"), col("total_value"))
        .orderBy(col("win_start_us"))),

    "q13_session_window" -> ((s, d) =>
      // session windows (gap 4h) per user — Spark-native capability the
      // reference lacks (SURVEY.md §2.6)
      streaming.Windows.session(Tables.events(s, d), "ts", "4 hours", None,
          Seq(col("user_id")), Seq(count(lit(1)).as("n_events")))
        .select(col("user_id"),
          unix_micros(col("window_start")).as("sess_start_us"),
          unix_micros(col("window_end")).as("sess_end_us"), col("n_events"))
        .orderBy(col("user_id"), col("sess_start_us"))),

    "t_dedupe_ttl" -> ((s, d) =>
      // `dedupe` processor TTL-cache semantics in batch form
      // (processors/dedupe.adoc:26, config/test/deduplicate.yaml:1-37)
      streaming.StreamDedupe.ttlBatch(Tables.events(s, d), col("ts"),
          col("event_id"), 86400, Seq(col("user_id"), col("event_type")))
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .orderBy(col("event_id"))),

    // ── Bloblang mapping language (graft.blobl, typed mode) ──────────
    "b_mapping" -> ((s, d) =>
      // `mapping` via the Bloblang front-end (mapping.adoc:26):
      // projection + string methods compiled to one Catalyst projection
      Blobl.mappingTyped(Tables.documents(s, d).orderBy(col("doc_id")),
        """root.doc_id = this.doc_id
          |root.lang_uc = this.lang.uppercase()
          |root.head = this.text.slice(0, 40)
          |root.n_words = this.text.split(" ").filter(w -> w.length() > 0).length()
          |""".stripMargin)),

    "b_string_methods" -> ((s, d) =>
      Blobl.mappingTyped(Tables.documents(s, d).orderBy(col("doc_id")),
        """root.doc_id = this.doc_id
          |root.up = this.source.uppercase()
          |root.pre = this.source.has_prefix("c")
          |root.rep = this.lang.replace_all("e", "E")
          |root.cat = this.lang + ":" + this.source
          |root.rev = this.lang.reverse()
          |""".stripMargin)),

    "b_regex_methods" -> ((s, d) =>
      Blobl.mappingTyped(Tables.documents(s, d).orderBy(col("doc_id")),
        """root.doc_id = this.doc_id
          |root.has_digits = this.text.re_match("[0-9]")
          |root.novowels = this.text.slice(0, 20).re_replace_all("[aeiou]", "_")
          |""".stripMargin)),

    "b_numeric_methods" -> ((s, d) =>
      Blobl.mappingTyped(Tables.events(s, d).orderBy(col("event_id")),
        """root.event_id = this.event_id
          |root.c = (this.value / 7.0).ceil()
          |root.f = (this.value / 7.0).floor()
          |root.scaled = this.value * 2.0 + 1.0
          |root.vmax = this.value.max(100.0)
          |""".stripMargin)),

    "b_timestamp_methods" -> ((s, d) =>
      Blobl.mappingTyped(Tables.events(s, d).orderBy(col("event_id")),
        """root.event_id = this.event_id
          |root.day = this.ts.ts_format("2006-01-02")
          |root.hm = this.ts.ts_strftime("%H:%M")
          |root.unix = this.ts.ts_unix()
          |""".stripMargin)),

    "b_methods_t2" -> ((s, d) =>
      // tranche-2 method surface: bitwise, escape_html, slice widths
      Blobl.mappingTyped(Tables.documents(s, d).orderBy(col("doc_id")),
        """root.doc_id = this.doc_id
          |root.band = this.doc_id.bitwise_and(255)
          |root.u16 = this.doc_id.uint16()
          |root.esc_len = this.text.escape_html().length()
          |root.sliced = this.text.slice(0, 10)
          |""".stripMargin)),

    "b_hash_encode" -> ((s, d) =>
      Blobl.mappingTyped(Tables.documents(s, d).orderBy(col("doc_id")),
        """root.doc_id = this.doc_id
          |root.h_md5 = this.text.hash("md5").encode("hex")
          |root.h_sha = this.text.hash("sha256").encode("hex")
          |root.b64 = this.lang.encode("base64")
          |root.rt = this.lang.encode("base64").decode("base64").string()
          |""".stripMargin)),

    "b_match_route" -> ((s, d) =>
      // match-expression routing — the Bloblang form of `switch`
      Blobl.mappingTyped(Tables.events(s, d),
        """root.event_id = this.event_id
          |root.route = match {
          |  this.event_type == "error" => "alerts",
          |  this.value > 150.0 => "big",
          |  _ => "archive"
          |}
          |""".stripMargin)
        .groupBy(col("route")).agg(count(lit(1)).as("n"))
        .orderBy(col("route"))),

    "b_filter_delete" -> ((s, d) =>
      // root = deleted() as a row filter (mapping.adoc drop semantics)
      Blobl.mappingTyped(Tables.documents(s, d).orderBy(col("doc_id")),
        """root.doc_id = this.doc_id
          |root.n_chars = this.n_chars
          |if this.n_chars < 300 { root = deleted() }
          |""".stripMargin)),

    "b_pipe_coalesce" -> ((s, d) =>
      // pipe/catch error-coalescing over dynamic JSON (about.adoc:98)
      Blobl.mappingTyped(Tables.events(s, d).orderBy(col("event_id")),
        """root.event_id = this.event_id
          |root.k = this.props.parse_json().get("k").string().catch("none")
          |""".stripMargin)),

    "b_interpolation" -> ((s, d) => {
      // `${! … }` interpolation template → one string column
      val docs = Tables.documents(s, d).orderBy(col("doc_id"))
      docs.select(col("doc_id"),
        Blobl.interpolate(docs,
          "doc ${! this.doc_id } [${! this.lang.uppercase() }] ${! this.n_chars } chars")
          .as("line"))
    }),

    // ── training-data ops ─────────────────────────────────────────────
    "t_token_count" -> ((s, d) =>
      Tables.documents(s, d).orderBy(col("doc_id"))
        .select(col("doc_id"), T.tokenCount(col("text")).as("n_tokens"))),

    "t_bpe_tokens" -> ((s, d) =>
      // tokenizer-shaped counting: BPE pre-tokenizer segments (GPT-2
      // pattern family), not whitespace words
      Tables.documents(s, d).orderBy(col("doc_id"))
        .select(col("doc_id"), T.bpeTokenCount(col("text")).as("n_bpe"))),

    "p_openai_embeddings" -> ((s, d) => {
      // openai_embeddings named form (openai_embeddings.adoc:26) over
      // the REAL /v1/embeddings wire shape: bearer-authed loopback
      // server answers with the md5 kernel, deliberately REVERSING the
      // data[] order — the gate only matches if the client re-aligns
      // by the `index` field (the documented contract)
      import graft.operators.{AiApis, Embeddings}
      val srv = new AiApis.Server(apiKey = Some("sk-test"))
      Embeddings.embedBatched(
          Tables.documents(s, d)
            .filter(col("doc_id") < 100 && length(col("text")) > 0)
            .select(col("doc_id"), col("text")),
          "text", "embedding", 16,
          AiApis.openAiEmbeddings(srv.baseUrl, "sk-test",
            "text-embedding-3-small", 8))
        .select(col("doc_id"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("e0"),
          size(col("embedding")).as("dim"))
        .orderBy(col("doc_id"))
    }),

    "p_bedrock_embeddings" -> ((s, d) => {
      // aws_bedrock_embeddings (Titan invoke shape): every request is
      // SigV4-signed and the loopback server re-derives the signature
      // before answering — a broken signing chain fails the whole gate
      import graft.operators.{AiApis, Embeddings}
      import graft.sources.S3.Credentials
      val srv = new AiApis.Server(creds = Credentials("AKGATE", "SKGATE"))
      Embeddings.embedBatched(
          Tables.documents(s, d)
            .filter(col("doc_id") >= 100 && col("doc_id") < 200 &&
              length(col("text")) > 0)
            .select(col("doc_id"), col("text")),
          "text", "embedding", 16,
          AiApis.bedrockEmbeddings(srv.baseUrl,
            Credentials("AKGATE", "SKGATE"), "amazon.titan-embed", 8))
        .select(col("doc_id"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("e0"),
          size(col("embedding")).as("dim"))
        .orderBy(col("doc_id"))
    }),

    "p_vertex_embeddings" -> ((s, d) => {
      // gcp_vertex_ai_embeddings: instances[].content → predictions[]
      // .embeddings.values over the :predict endpoint
      import graft.operators.{AiApis, Embeddings}
      val srv = new AiApis.Server(apiKey = Some("gcp-token"))
      Embeddings.embedBatched(
          Tables.documents(s, d)
            .filter(col("doc_id") >= 200 && col("doc_id") < 300 &&
              length(col("text")) > 0)
            .select(col("doc_id"), col("text")),
          "text", "embedding", 16,
          AiApis.vertexEmbeddings(srv.baseUrl, "proj", "us-central1",
            "text-embedding-005", 8, "gcp-token"))
        .select(col("doc_id"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("e0"),
          size(col("embedding")).as("dim"))
        .orderBy(col("doc_id"))
    }),

    "p_ollama_chat" -> ((s, d) => {
      // ollama_chat named form over the real /api/chat shape; the
      // loopback answers the SQL-reproducible md5 digest
      import graft.operators.{Ai, AiApis}
      val srv = new AiApis.Server()
      Ai.chatCompletion(
          Tables.documents(s, d).filter(col("doc_id") < 150)
            .select(col("doc_id"), col("text")),
          "text", "reply", 16,
          AiApis.ollamaChat(srv.baseUrl, "llama3"))
        .select(col("doc_id"), col("reply"))
        .orderBy(col("doc_id"))
    }),

    "p_cohere_rerank" -> ((s, d) => {
      // cohere_rerank over the real /v1/rerank shape: the loopback
      // scores with the SAME lexical formula as Ai.lexicalScore, so
      // the oracle reproduces scores and ranks in SQL. Candidate set
      // bounded (doc_id < 300) — rerank inputs are top-k shortlists
      import graft.operators.AiApis
      val srv = new AiApis.Server(apiKey = Some("co-test"))
      val q = "data pipeline processing engine"
      val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
        .collect() // bounded candidate shortlist (the rerank contract)
      val ranked = AiApis.cohereRerank(srv.baseUrl, "co-test",
        "rerank-v3", q, docs.map(_.getString(1)).toSeq, 5)
      import s.implicits._
      ranked.zipWithIndex.map { case ((idx, score), pos) =>
        (docs(idx).getLong(0), pos + 1, math.rint(score * 1e6) / 1e6)
      }.toSeq.toDF("doc_id", "rank", "score").orderBy(col("rank"))
    }),

    "m_embed_batch" -> ((s, d) =>
      // batched embedding generation, oracle-gated: the md5 stub batcher
      // is SQL-reproducible, so the gate catches any per-row
      // MISALIGNMENT of batch outputs (vectors shifted one row off) —
      // further invariants in EmbeddingsSpec
      Embeddings.embedBatched(
          Tables.documents(s, d)
            .filter(col("doc_id") < 100 && length(col("text")) > 0)
            .select(col("doc_id"), col("text")),
          "text", "embedding", 16, Embeddings.md5Batcher(8))
        .select(col("doc_id"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("e0"),
          size(col("embedding")).as("dim"))
        .orderBy(col("doc_id"))),

    "t_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).orderBy(col("doc_id"))
        .select(col("doc_id"), T.fingerprint(col("text")).as("fp"))),

    "t_dedupe_exact" -> ((s, d) =>
      Dedupe.exact(Tables.documents(s, d), "text", "doc_id")
        .orderBy(col("fp"))),

    "t_quality_score" -> ((s, d) =>
      Tables.documents(s, d).orderBy(col("doc_id"))
        .select(col("doc_id"), A.qualityScore(col("text")).as("quality"))),

    "t_langid" -> ((s, d) =>
      Tables.documents(s, d).orderBy(col("doc_id"))
        .select(col("doc_id"), A.langId(col("text")).as("lang_pred"))),

    "t_ngram_jaccard" -> ((s, d) =>
      pairGate(Dedupe.ngramJaccardPairs(
        Tables.documents(s, d), "text", "doc_id", 3, 0.35))),

    "t_minhash_lsh" -> ((s, d) =>
      // probabilistic recall — rows-only check (no oracle)
      pairGate(Dedupe.minhashLshPairs(Tables.documents(s, d), "text", "doc_id",
          3, 16, 4, 0.35))),

    "t_simhash" -> ((s, d) =>
      // xxhash-based fingerprints — rows-only check (no oracle).
      // maxHamming=3 → 4 blocks of 16 bits: candidate recall is exactly
      // 1.0 for the advertised radius (see Dedupe.simhashPairs).
      pairGate(Dedupe.simhashPairs(Tables.documents(s, d), "text", "doc_id", 3))),

    "t_simhash_md5" -> ((s, d) => {
      // the simhash COMPUTATION, oracle-gated: md5 feature hashes make
      // the 64-bit fingerprint reproducible in ANSI SQL (the production
      // kernel graft_simhash runs the same sign-aggregation over
      // xxhash64 — cheaper hash, same algorithm; its pair mining stays
      // rows-only in t_simhash). Declarative end to end: shingle →
      // per-bit ±1 vote → sign → nibble → hex, four narrow aggregations.
      val toks = filter(split(trim(col("text")), "[ \t\n\f\r]+"),
        t => length(t) > 0)
      val sh = Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), explode(array_distinct(transform(
          sequence(lit(1), size(col("toks")) - 2),
          i => concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2))))).as("sh"))
      sh.select(col("doc_id"), substring(md5(col("sh")), 17, 16).as("h"))
        .select(col("doc_id"), col("h"),
          explode(sequence(lit(0), lit(63))).as("j"))
        .selectExpr("doc_id", "j",
          "shiftright(instr('0123456789abcdef', substring(h, CAST(j div 4 AS INT)+1, 1)) - 1, CAST(3 - j%4 AS INT)) & 1 AS bit")
        .groupBy(col("doc_id"), col("j"))
        .agg(expr("CASE WHEN SUM(2*bit-1) > 0 THEN 1 ELSE 0 END").as("sbit"))
        .groupBy(col("doc_id"), expr("CAST(j div 4 AS INT)").as("nib"))
        .agg(expr("SUM(sbit * CAST(pow(2, 3 - j%4) AS BIGINT))").as("nv"))
        .select(col("doc_id"), col("nib"),
          expr("substring('0123456789abcdef', CAST(nv AS INT)+1, 1)").as("hc"))
        .groupBy(col("doc_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("nib"), col("hc")))),
          s2 => s2.getField("hc")), "").as("simhash"))
        .orderBy(col("doc_id"))
    }),

    "s_cosine_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    "s_vector_store" -> ((s, d) => {
      // qdrant-shaped connector contract (internal/impl/qdrant/
      // client.go Upsert/Query): upsert the embeddings as points into
      // the in-memory store, then enrich query rows with store-side
      // top-k — the external-store path of similarity search (the
      // in-engine scale path is Similarity LSH/IVF). Exact cosine, so
      // the brute-force SQL oracle applies (self hit at rank 1).
      import graft.sinks.VectorStore
      val emb = Tables.embeddings(s, d)
      val name = "vs_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val addr = s"mem://$name"
      VectorStore.InMemory.named(name).createCollection("emb", 64, "cosine")
      VectorStore.upsert(emb.select(col("vec_id"), col("embedding")),
        addr, "emb", "vec_id", "embedding")
      VectorStore.queryEnrich(emb.filter(col("vec_id") < 10),
          addr, "emb", "embedding", 5, "hits")
        .select(col("vec_id").as("query_id"),
          posexplode(col("hits")).as(Seq("rank0", "hit")))
        .select(col("query_id"), (col("rank0") + 1).cast("int").as("rank"),
          col("hit.id").as("neighbor_id"), round(col("hit.score"), 6).as("sim"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "s_cosine_lsh" -> ((s, d) => {
      // Hyperplane LSH is a NEAR-DUPLICATE detector (see lshTopK docs);
      // the synthetic corpus has no near-dups, so querying raw vectors
      // returned ~1 incidental collision — a rows-only gate that hid
      // nothing. Instead plant exact copies under shifted ids as the
      // query set: identical vectors collide in EVERY table
      // (probability 1, not probabilistic), so after a sim ≥ 0.95 cut
      // the output is exactly the planted twins at sim 1.0 — fully
      // SQL-expressible, upgrading this gate from rows-only to
      // hash-matched while still exercising the real LSH path
      // (bucketing kernel → candidate join → exact rescore → top-k).
      // Approximate-regime recall stays gated by RecallSpec.
      val emb = Tables.embeddings(s, d)
      val planted = emb.filter(col("vec_id") < 50).select(
        (col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Similarity.lshTopK(emb, planted, 5, planes = 16, tables = 4)
        .filter(col("sim") >= 0.95)
        .orderBy(col("query_id"), col("rank"))
    }),

    "s_embed_dedup" -> ((s, d) => {
      // embedding-cosine near-dup pairs, LSH-candidate path — rows-only
      // (probabilistic recall; gated in RecallSpec). The synthetic
      // corpus has no semantic duplicates (neighbors top out at cosine
      // ~0.5), so the demo plants exact copies under shifted ids —
      // every vector must pair with its twin.
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val planted = emb.unionByName(emb.select(
        (col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      Dedupe.embeddingPairs(planted, "vec_id", "embedding", threshold = 0.95)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "s_cosine_ivf" -> ((s, d) => {
      // IVF ANN (k-means coarse quantizer + multi-probe). The GATE runs
      // with nprobe = nCells: probing every cell makes the result exact
      // top-k regardless of the (model-dependent) cell assignment, so
      // the brute-force cosine SQL is a valid oracle and the fit can be
      // short. The SCALE configuration (nprobe << nCells) is the
      // approximate path, gated by recall ≥ 0.9 in RecallSpec.
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), 5,
          nCells = 16, nprobe = 16, fitIter = 3, trainSample = 0.25)
        .orderBy(col("query_id"), col("rank"))
    }))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  /** Exact word-trigram Jaccard pairs at threshold 0.35 — the oracle for
    * BOTH the exact inverted-index path (t_ngram_jaccard) and the
    * MinHash-LSH path (t_minhash_lsh): at the gate's banding parameters
    * (16 bands × 4 rows) candidate recall at jaccard ≥ 0.35 is 1.0 on
    * the test corpus and the verify step is exact, so the two paths
    * produce identical output.
    */
  private val exactJaccardSql: String =
    """WITH f AS (
      |  SELECT doc_id, LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\f\r]+'),
      |    t -> LEN(t) > 0) AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, CASE WHEN LEN(toks) < 3 THEN [] ELSE
      |    LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS s
      |  FROM f)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  ROUND(CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE) /
      |    (LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s))), 4) AS jaccard
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE LEN(a.s) + LEN(b.s) > 0
      |  AND CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE) /
      |    (LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s))) >= 0.35
      |ORDER BY id_a, id_b""".stripMargin

  /** Exact cosine top-5 for queries vec_id < 10 — the oracle for BOTH
    * the brute-force path (s_cosine_topk) and the IVF path
    * (s_cosine_ivf): the gate runs IVF with nprobe = nCells, which
    * probes every cell and is therefore exhaustive-exact regardless of
    * the k-means assignment.
    */
  private val cosineTopkSql: String =
    """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ROUND(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
      |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
      |      (SQRT(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
      |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))) *
      |       SQRT(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
      |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))
      |      , 6) AS sim
      |  FROM embeddings c, q WHERE c.vec_id <> q.vec_id)
      |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM (
      |  SELECT query_id, neighbor_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM scored) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Queries intentionally absent from [[oracleSql]], each with the
    * reason and the non-oracle gate that covers it instead. Verify dumps
    * this as `oracle_exempt.json` next to `oracle_sql.json` so the
    * correctness sweep's rows-only entries are explicit exemptions, not
    * silent coverage gaps. Every `queries` key must appear in exactly
    * one of the two maps (pinned by SparkEntrySpec).
    */
  def oracleExempt: Map[String, String] = Map(
    "t_simhash" -> ("simhash pair mining over the real xxhash feature " +
      "hasher; SQL cannot reproduce the hash kernel. CROSS-CHECKED " +
      "value-for-value by an independent pure-python reimplementation " +
      "(scripts/simhash_check.py: XXH64 from the public xxHash spec + " +
      "the sign-vote fingerprint + pigeonhole mining, zero shared " +
      "code; SimhashCrossCheckSpec, 525 pairs across the 5000-doc " +
      "sf0.1 corpus). The COMPUTATION is additionally oracle-gated via " +
      "t_simhash_md5 (md5 feature hashes DuckDB can recompute); " +
      "pair-mining recall ≥ 0.9 is gated by RecallSpec."),
    "t_chunk_recursive" -> ("recursive-character chunker; the separator " +
      "descent is algorithmic, not relational — no DuckDB oracle. " +
      "CROSS-CHECKED value-for-value by an independent pure-python " +
      "reimplementation of the public langchain algorithm " +
      "(scripts/chunker_check.py via ChunkerCrossCheckSpec, 1000 sf0.1 " +
      "docs, zero shared code); invariants (coverage, bounds, " +
      "reconstruction) additionally gated by ArchiveChunkSpec; the " +
      "token strategy has the FULL oracle (t_chunk_token)."),
    "t_chunk_markdown" -> ("markdown-structure chunker; same gating as " +
      "t_chunk_recursive — CROSS-CHECKED value-for-value by " +
      "scripts/chunker_check.py (ChunkerCrossCheckSpec, 1000 sf0.1 " +
      "docs) plus ArchiveChunkSpec invariants."))

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM($revenueSql) AS DOUBLE) AS sum_disc_price,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q3_segment_revenue" ->
      s"""SELECT o_orderkey, CAST(SUM($revenueSql) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY o_orderkey
         |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q4_region_supplier" ->
      """SELECT r_name, COUNT(*) AS n_suppliers,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q5_rollup" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
        |  COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q6_window_rank" ->
      """SELECT o_custkey, CAST(rn AS INT) AS rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q7_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q8_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "q9_except" ->
      """SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'error' AND value > 180
        |EXCEPT
        |SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'purchase' AND value > 180
        |ORDER BY user_id""".stripMargin,

    "q10_events_hourly" ->
      """SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS hour_start_us,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q11_asof_join" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  (SELECT MAX(epoch_us(s.ts)) FROM events s
        |   WHERE s.user_id = e.user_id AND s.event_type = 'signup'
        |     AND s.ts <= e.ts) AS last_signup_us
        |FROM events e WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "p_mapping" ->
      """SELECT doc_id, UPPER(lang) AS lang_uc, CAST(LENGTH(text) AS INT) AS text_len,
        |  CAST(LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\f\r]+'),
        |    t -> LEN(t) > 0)) AS BIGINT) AS n_tokens,
        |  SUBSTR(text, 1, 40) AS head
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p_bounds_check" ->
      """SELECT doc_id, CAST(LENGTH(text) AS INT) AS text_len FROM documents
        |WHERE LENGTH(text) BETWEEN 200 AND 1500 ORDER BY doc_id""".stripMargin,

    "p_switch" ->
      """SELECT CASE
        |  WHEN event_type = 'error' THEN 'alerts'
        |  WHEN event_type IN ('purchase','signup') THEN 'conversions'
        |  WHEN value > 150 THEN 'big'
        |  ELSE 'archive' END AS route, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "p_group_by_value" ->
      """SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "p_archive" ->
      """SELECT lang AS key,
        |  STRING_AGG(SUBSTR(text, 1, 20), chr(10) ORDER BY doc_id) AS archived,
        |  COUNT(*) AS n
        |FROM documents WHERE doc_id < 40
        |GROUP BY lang ORDER BY key""".stripMargin,

    "p_unarchive" ->
      """SELECT part, COUNT(*) AS freq FROM (
        |  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS part
        |  FROM documents WHERE doc_id < 40) t
        |WHERE LENGTH(part) > 0
        |GROUP BY part ORDER BY freq DESC, part LIMIT 25""".stripMargin,

    "p_counter" ->
      """SELECT event_id, user_id, seq FROM (
        |  SELECT event_id, user_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
        |  FROM events) t
        |WHERE seq <= 3 ORDER BY user_id, seq""".stripMargin,

    "p_cached" ->
      """SELECT doc_id, lang,
        |  UPPER(lang) || '-' || CAST(LENGTH(lang) AS VARCHAR) AS lang_tag
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p_rerank" ->
      """WITH scored AS (
        |  SELECT doc_id, text,
        |    ROUND(CAST(LEN(list_intersect(
        |      ['data','pipeline','processing','engine'],
        |      list_distinct(LIST_FILTER(
        |        regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\f\r]+'),
        |        t -> LEN(t) > 0)))) AS DOUBLE) / 4.0, 6) AS score
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id, score,
        |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, text, doc_id)
        |         AS INT) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, score FROM ranked WHERE rank <= 5
        |ORDER BY rank""".stripMargin,

    "p_cohere_rerank" ->
      """WITH scored AS (
        |  SELECT doc_id, text,
        |    ROUND(CAST(LEN(list_intersect(
        |      ['data','pipeline','processing','engine'],
        |      list_distinct(LIST_FILTER(
        |        regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\f\r]+'),
        |        t -> LEN(t) > 0)))) AS DOUBLE) / 4.0, 6) AS score
        |  FROM documents WHERE doc_id < 300),
        |ranked AS (
        |  SELECT doc_id, score,
        |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, text) AS INT) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, score FROM ranked WHERE rank <= 5
        |ORDER BY rank""".stripMargin,

    "p_openai_embeddings" ->
      """SELECT doc_id,
        |  ROUND(CAST(CAST(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 8),
        |      k -> (STRPOS('0123456789abcdef',
        |              SUBSTR(SUBSTR(MD5(text || ':0'), 25, 8), CAST(k AS INT), 1)) - 1)
        |        * POW(16, 8 - k))) / 4294967295.0 AS REAL) AS DOUBLE), 6) AS e0,
        |  8 AS dim
        |FROM documents WHERE doc_id < 100 AND LEN(text) > 0
        |ORDER BY doc_id""".stripMargin,

    "p_bedrock_embeddings" ->
      """SELECT doc_id,
        |  ROUND(CAST(CAST(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 8),
        |      k -> (STRPOS('0123456789abcdef',
        |              SUBSTR(SUBSTR(MD5(text || ':0'), 25, 8), CAST(k AS INT), 1)) - 1)
        |        * POW(16, 8 - k))) / 4294967295.0 AS REAL) AS DOUBLE), 6) AS e0,
        |  8 AS dim
        |FROM documents WHERE doc_id >= 100 AND doc_id < 200 AND LEN(text) > 0
        |ORDER BY doc_id""".stripMargin,

    "p_vertex_embeddings" ->
      """SELECT doc_id,
        |  ROUND(CAST(CAST(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 8),
        |      k -> (STRPOS('0123456789abcdef',
        |              SUBSTR(SUBSTR(MD5(text || ':0'), 25, 8), CAST(k AS INT), 1)) - 1)
        |        * POW(16, 8 - k))) / 4294967295.0 AS REAL) AS DOUBLE), 6) AS e0,
        |  8 AS dim
        |FROM documents WHERE doc_id >= 200 AND doc_id < 300 AND LEN(text) > 0
        |ORDER BY doc_id""".stripMargin,

    "p_ollama_chat" ->
      """SELECT doc_id, 'echo:' || SUBSTR(MD5(text), 1, 8) AS reply
        |FROM documents WHERE doc_id < 150
        |ORDER BY doc_id""".stripMargin,

    "p_awk" ->
      """SELECT doc_id,
        |  CASE WHEN lang = 'en' THEN doc_id || ':' || (n_chars * 2)
        |       ELSE doc_id || ':' || n_chars END AS value
        |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin,

    "p_agent" ->
      """SELECT doc_id,
        |  upper(regexp_replace(substring(text, 1, 40), '[^ -~]', ' ', 'g'))
        |    AS value
        |FROM documents WHERE doc_id < 40 AND text IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    "p_agent_py" ->
      """SELECT doc_id,
        |  upper(regexp_replace(substring(text, 1, 40), '[^ -~]', ' ', 'g'))
        |    AS value
        |FROM documents WHERE doc_id >= 40 AND doc_id < 80
        |  AND text IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    "p_wasm" ->
      """SELECT upper(CAST(doc_id AS VARCHAR) || ':' || text) AS value,
        |  CAST(length(CAST(doc_id AS VARCHAR) || ':' || text)
        |       AS BIGINT) AS wasm_len
        |FROM documents ORDER BY value""".stripMargin,

    "p_ffi" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
        |  reverse(text) AS rev_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p_redpanda_transform" ->
      """SELECT doc_id, reverse(text) AS rev_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p_javascript" ->
      """SELECT o_orderkey,
        |  substr(o_orderpriority, 1, 1) AS priority_code,
        |  len(list_filter(string_split(o_orderpriority, '-'),
        |                  w -> len(w) > 0)) AS prio_words,
        |  CASE WHEN o_totalprice < 50000 THEN 'small'
        |       WHEN o_totalprice < 150000 THEN 'mid'
        |       ELSE 'big' END AS bucket,
        |  lower(o_orderstatus) || '-' ||
        |    CAST(o_orderkey % 7 AS VARCHAR) AS tag,
        |  (o_custkey * 7 + 3) % 100 AS cust_bucket
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "p_jq" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS VARCHAR) AS k
        |FROM events
        |WHERE CAST(json_extract(props, '$.k') AS DOUBLE) >= 50
        |ORDER BY event_id""".stripMargin,

    "p_protobuf" ->
      """SELECT event_id, event_type AS type_rt,
        |  CAST(value AS DOUBLE) AS value_rt
        |FROM events ORDER BY event_id""".stripMargin,

    "p_msgpack" ->
      """SELECT event_id, true AS rt_ok,
        |  json_extract_string(props, '$.k') AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "p_json_schema" ->
      """SELECT CASE
        |  WHEN json_extract(props, '$.k') IS NULL
        |    THEN '$: missing required ''k'''
        |  WHEN json_type(json_extract(props, '$.k'))
        |    NOT IN ('INTEGER', 'UBIGINT', 'BIGINT') THEN '$.k: expected integer'
        |  WHEN CAST(json_extract(props, '$.k') AS DOUBLE) < 0
        |    THEN '$.k: below minimum'
        |  END AS violation, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "p_xml" ->
      """SELECT o_orderkey, o_orderkey AS id_rt,
        |  CAST(o_totalprice AS DOUBLE) AS price_rt
        |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin,

    "p_sharded_join" ->
      """SELECT COALESCE(c.c_custkey, o.o_custkey) AS id, c.c_name AS name,
        |  o.orders AS orders
        |FROM customer c FULL OUTER JOIN (
        |  SELECT o_custkey,
        |    STRING_AGG(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS orders
        |  FROM orders WHERE o_orderkey < 5000 GROUP BY o_custkey) o
        |ON c.c_custkey = o.o_custkey
        |ORDER BY id""".stripMargin,

    "p_hydration" ->
      """SELECT c.c_mktsegment AS segment, COUNT(*) AS n
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "p_command" ->
      """SELECT doc_id,
        |  REPLACE(REPLACE(REGEXP_REPLACE(SUBSTR(text, 1, 40), '[\n\r]', ' ', 'g'),
        |    'a', 'A'), 'e', 'E') AS value
        |FROM documents WHERE doc_id < 100 AND text IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    "p_subprocess" ->
      """SELECT doc_id,
        |  REPLACE(REGEXP_REPLACE(SUBSTR(text, 1, 30), '[\n\r]', ' ', 'g'),
        |    'e', 'E') AS value
        |FROM documents WHERE doc_id < 200 AND text IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    "p_while" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 >= 8 THEN doc_id % 10
        |       ELSE doc_id % 10 + 3 * CAST(CEIL((8 - doc_id % 10) / 3.0) AS BIGINT)
        |  END AS kv
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin,

    "p_cdc_apply" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
        |  CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) +
        |    CASE WHEN o_orderkey % 7 = 0 THEN 10 ELSE 0 END AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM orders
        |WHERE o_orderkey < 2000 AND o_orderkey % 13 <> 0
        |ORDER BY k""".stripMargin,

    "p_salesforce" ->
      """SELECT 'ORD' || LPAD(CAST(o_orderkey AS VARCHAR), 6, '0') AS id,
        |  o_custkey AS cust, o_orderstatus AS status,
        |  o_totalprice AS price
        |FROM orders WHERE o_orderkey < 400 AND o_totalprice > 50000.0
        |ORDER BY id""".stripMargin,

    "p_pg_cdc" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END
        |    AS o_orderstatus,
        |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 10.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate
        |FROM orders
        |WHERE o_orderkey < 2000 AND o_orderkey % 7 <> 0
        |ORDER BY o_orderkey""".stripMargin,

    "p_ws_roundtrip" ->
      """SELECT doc_id, lang, n_chars
        |FROM documents WHERE doc_id < 400
        |ORDER BY doc_id""".stripMargin,

    "p_cassandra_roundtrip" ->
      """SELECT o_orderkey AS k, o_orderstatus AS status,
        |  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 9.0
        |       ELSE o_totalprice END AS price,
        |  o_orderdate AS placed
        |FROM orders WHERE o_orderkey < 700
        |ORDER BY k""".stripMargin,

    "p_mongodb_roundtrip" ->
      """SELECT doc_id, lang, n_chars
        |FROM documents WHERE doc_id < 600 AND n_chars >= 500
        |ORDER BY doc_id""".stripMargin,

    "p_bigquery_load" ->
      """SELECT doc_id, lang, n_chars
        |FROM documents WHERE doc_id < 500
        |ORDER BY doc_id""".stripMargin,

    "p_snowpipe_stream" ->
      """SELECT o_orderkey AS k, o_totalprice AS price
        |FROM orders WHERE o_orderkey < 800
        |ORDER BY k""".stripMargin,

    "p_discord_gateway" ->
      """SELECT o_orderkey AS k, o_totalprice AS total,
        |  'MESSAGE_CREATE' AS etype
        |FROM orders WHERE o_orderkey < 250
        |ORDER BY k""".stripMargin,

    "p_slack_socket" ->
      """SELECT o_orderkey AS order_id, o_totalprice AS total,
        |  'order_created' AS etype
        |FROM orders WHERE o_orderkey < 300
        |ORDER BY order_id""".stripMargin,

    "p_mysql_cdc" ->
      """SELECT o_orderkey, CAST(o_custkey AS INT) AS o_custkey,
        |  CASE WHEN o_orderkey % 9 = 0 THEN 'X' ELSE o_orderstatus END
        |    AS o_orderstatus,
        |  CASE WHEN o_orderkey % 9 = 0 THEN o_totalprice + 5.5
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate,
        |  CAST(o_custkey AS VARCHAR) || '.2500' AS o_dec,
        |  substr(o_orderpriority, 1, 1) AS o_prio
        |FROM orders
        |WHERE o_orderkey < 1500 AND o_orderkey % 11 <> 0
        |ORDER BY o_orderkey""".stripMargin,

    "p_mongo_cdc" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
        |  CASE WHEN o_orderkey % 6 = 0 THEN 'U' ELSE o_orderstatus END
        |    AS status,
        |  CAST(o_totalprice AS DOUBLE) +
        |    CASE WHEN o_orderkey % 6 = 0 THEN 7.5 ELSE 0.0 END AS price
        |FROM orders
        |WHERE o_orderkey < 1300 AND o_orderkey % 10 <> 0
        |ORDER BY k""".stripMargin,

    "p_dynamodb_cdc" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END
        |    AS status,
        |  CAST(o_totalprice AS DOUBLE) +
        |    CASE WHEN o_orderkey % 7 = 0 THEN 5.25 ELSE 0.0 END AS price
        |FROM orders
        |WHERE o_orderkey < 1300 AND o_orderkey % 9 <> 0
        |ORDER BY k""".stripMargin,

    "p_amqp1_roundtrip" ->
      """SELECT doc_id, lang FROM documents WHERE doc_id < 400
        |ORDER BY doc_id""".stripMargin,

    "p_bigquery_write" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 400
        |ORDER BY doc_id""".stripMargin,

    "p_salesforce_graphql" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 400
        |ORDER BY doc_id""".stripMargin,

    "p_salesforce_sink" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
        |  o_orderstatus AS status
        |FROM orders WHERE o_orderkey < 1500 AND o_orderkey % 8 <> 0
        |ORDER BY k""".stripMargin,

    "p_migrator" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
        |  CAST(o_totalprice AS DOUBLE) AS price,
        |  CAST(o_orderkey % 4 AS INT) AS part,
        |  ROW_NUMBER() OVER (PARTITION BY o_orderkey % 4
        |    ORDER BY o_orderkey) - 1 AS off,
        |  51 AS schema_id
        |FROM orders WHERE o_orderkey < 2000
        |ORDER BY k""".stripMargin,

    "p_salesforce_cdc" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
        |  CASE WHEN o_orderkey % 6 = 0 THEN 'U' ELSE o_orderstatus END
        |    AS status,
        |  CAST(o_totalprice AS DOUBLE) +
        |    CASE WHEN o_orderkey % 6 = 0 THEN 3.25 ELSE 0.0 END AS price
        |FROM orders WHERE o_orderkey < 1200 AND o_orderkey % 11 <> 0
        |ORDER BY k""".stripMargin,

    "p_spicedb_watch" ->
      """SELECT o_orderkey AS k,
        |  CAST(CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 1
        |       ELSE o_custkey END AS VARCHAR) AS owner
        |FROM orders WHERE o_orderkey < 1200 AND o_orderkey % 10 <> 0
        |ORDER BY k""".stripMargin,

    "p_opensearch_bulk" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 400 AND doc_id % 9 <> 0
        |ORDER BY doc_id""".stripMargin,

    "p_azure_table" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 400
        |ORDER BY doc_id""".stripMargin,

    "p_adls_write" ->
      """SELECT doc_id, lang, 'dt=' || CAST(doc_id % 4 AS VARCHAR) AS dir
        |FROM documents WHERE doc_id < 400
        |ORDER BY doc_id""".stripMargin,

    "p_snowflake_put" ->
      """SELECT doc_id, lang FROM documents WHERE doc_id < 400
        |ORDER BY doc_id""".stripMargin,

    "p_cloudwatch_logs" ->
      """SELECT doc_id, lang, n_chars,
        |  's' || CAST(doc_id % 3 AS VARCHAR) AS stream
        |FROM documents WHERE doc_id < 400
        |ORDER BY doc_id""".stripMargin,

    "p_cloudwatch_metrics" ->
      """SELECT lang, COUNT(*) AS docs, 'Count' AS unit
        |FROM documents GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "p_firehose_delivery" ->
      """SELECT doc_id, lang FROM documents WHERE doc_id < 500
        |ORDER BY doc_id""".stripMargin,

    "p_spanner_cdc" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
        |  CASE WHEN o_orderkey % 8 = 0 THEN 'U' ELSE o_orderstatus END
        |    AS status,
        |  CAST(o_totalprice AS DOUBLE) +
        |    CASE WHEN o_orderkey % 8 = 0 THEN 9.75 ELSE 0.0 END AS price
        |FROM orders
        |WHERE o_orderkey < 1200 AND o_orderkey % 12 <> 0
        |ORDER BY k""".stripMargin,

    "p_kafka_roundtrip" ->
      """SELECT doc_id,
        |  doc_id % 4 AS kafka_partition,
        |  ROW_NUMBER() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) - 1
        |    AS kafka_offset,
        |  COUNT(*) OVER (PARTITION BY doc_id % 4)
        |    - (ROW_NUMBER() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) - 1)
        |    AS kafka_lag,
        |  text
        |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin,

    "p_kafka_wire" ->
      """WITH w AS (
        |  SELECT doc_id, text, doc_id % 4 AS part,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) - 1
        |      AS off,
        |    COUNT(*) OVER (PARTITION BY doc_id % 4) AS cnt
        |  FROM documents WHERE doc_id < 500)
        |SELECT doc_id, part AS kafka_partition, off AS kafka_offset, text,
        |  CAST(1 AS BIGINT) AS gen_bump
        |FROM w WHERE off >= CAST(FLOOR(cnt / 2.0) AS BIGINT)
        |ORDER BY doc_id""".stripMargin,

    // committed rows start at offset 31 on each partition: the failed
    // attempt's 30 aborted rows occupy 0-29 and its abort marker 30;
    // 60 aborted rows stay visible to read_uncommitted only
    "p_kafka_txn" ->
      """SELECT doc_id, doc_id % 2 AS kafka_partition,
        |  30 + ROW_NUMBER() OVER (PARTITION BY doc_id % 2 ORDER BY doc_id)
        |    AS kafka_offset,
        |  text, CAST(60 AS BIGINT) AS aborted_visible
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin,

    "p_amqp_roundtrip" ->
      """SELECT doc_id, 'doc.' || lang AS rk,
        |  ROW_NUMBER() OVER (ORDER BY doc_id) AS tag
        |FROM documents WHERE doc_id < 300 AND lang = 'en'
        |ORDER BY doc_id""".stripMargin,

    "p_sqs_roundtrip" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
        |  o_totalprice AS price, o_orderstatus AS status, 1 AS rc
        |FROM orders WHERE o_orderkey < 500
        |ORDER BY k""".stripMargin,

    "p_pubsub_roundtrip" ->
      """SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal,
        |  c_mktsegment AS okey, 1 AS attempt
        |FROM customer WHERE c_custkey < 400
        |ORDER BY k""".stripMargin,

    "p_kinesis_roundtrip" ->
      """WITH r AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price,
        |    CAST(o_custkey AS VARCHAR) AS pk,
        |    CASE WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1)
        |           IN ('0','1','2','3') THEN 0
        |         WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1)
        |           IN ('4','5','6','7') THEN 1
        |         WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1)
        |           IN ('8','9','a','b') THEN 2
        |         ELSE 3 END AS shard
        |  FROM orders WHERE o_orderkey < 600)
        |SELECT k, price, pk, shard,
        |  ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k) AS seq
        |FROM r ORDER BY k""".stripMargin,

    "p_nsq_roundtrip" ->
      """SELECT p_partkey AS k, p_name AS name, p_retailprice AS price,
        |  1 AS attempts
        |FROM part WHERE p_partkey < 400
        |ORDER BY k""".stripMargin,

    "p_beanstalkd_roundtrip" ->
      """WITH r AS (
        |  SELECT o_orderkey AS k,
        |    CAST(substr(o_orderpriority, 1, 1) AS INT) AS pri
        |  FROM orders WHERE o_orderkey < 500)
        |SELECT k, pri, 1 AS reserves,
        |  ROW_NUMBER() OVER (ORDER BY pri, k) - 1 AS seq
        |FROM r ORDER BY k""".stripMargin,

    "p_azure_queue_roundtrip" ->
      """WITH r AS (
        |  SELECT c_custkey AS k, c_name AS name
        |  FROM customer WHERE c_custkey < 300),
        |s AS (
        |  SELECT k, name,
        |    ROW_NUMBER() OVER (ORDER BY k) - 1 AS rn,
        |    COUNT(*) OVER () AS total FROM r)
        |SELECT k, name, 'q' AS qname, '1970-01-01T00:00:00Z' AS itime,
        |  'prod' AS env,
        |  GREATEST(0, total - 32 * CAST(FLOOR(rn / 32) AS BIGINT) - 32)
        |    AS lag
        |FROM s ORDER BY k""".stripMargin,

    "p_otlp_traces" ->
      """SELECT event_id, event_type AS name, user_id AS uid,
        |  epoch_us(ts)*1000 AS start_ns, 'events-svc' AS svc,
        |  CASE WHEN CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY event_id)-1)
        |    / 100) AS INT) % 2 = 0 THEN 'json' ELSE 'protobuf' END AS enc
        |FROM events WHERE event_id < 1500
        |ORDER BY event_id""".stripMargin,

    "p_otlp_export" ->
      """SELECT event_id, event_type AS name, user_id AS uid,
        |  epoch_us(ts)*1000 AS start_ns, 'events-svc' AS svc
        |FROM events WHERE event_id < 800
        |ORDER BY event_id""".stripMargin,

    "p_otlp_grpc" ->
      """SELECT event_id, event_type AS name, user_id AS uid,
        |  epoch_us(ts)*1000 AS start_ns, 'events-svc' AS svc
        |FROM events WHERE event_id < 600
        |ORDER BY event_id""".stripMargin,

    "p_otlp_metrics" ->
      """SELECT event_id, event_type AS mname, value AS val,
        |  epoch_us(ts)*1000 AS t_ns
        |FROM events WHERE event_id < 1000
        |ORDER BY event_id""".stripMargin,

    "p_jira_incremental" ->
      """SELECT 'ORD-' || LPAD(CAST(o_orderkey AS VARCHAR), 6, '0') AS jira_id,
        |  'P' || CAST(o_orderkey % 3 AS VARCHAR) AS project,
        |  epoch_us(o_orderdate) AS updated_us,
        |  CAST(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'
        |       THEN 1 ELSE 2 END AS INTEGER) AS sweep
        |FROM orders WHERE o_orderkey < 400
        |ORDER BY jira_id""".stripMargin,

    "p_registry_sync" ->
      """SELECT 'nat-' || n_name AS subject, CAST(v AS INTEGER) AS version,
        |  n_nationkey * 10 + v AS schema_id
        |FROM nation, UNNEST(GENERATE_SERIES(1, n_nationkey % 3 + 1)) AS t(v)
        |ORDER BY schema_id""".stripMargin,

    "p_twitter_search" ->
      """SELECT 5000 + event_id AS tweet_id, event_type AS text,
        |  CAST(CASE WHEN event_id < 100 THEN 1 ELSE 2 END AS INTEGER)
        |    AS sweep
        |FROM events WHERE event_id < 200
        |ORDER BY tweet_id""".stripMargin,

    "p_discord_backfill" ->
      """SELECT 1000 + doc_id AS msg_id,
        |  'doc-' || CAST(doc_id AS VARCHAR) || ':' || lang AS content,
        |  ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS emit_order
        |FROM documents WHERE doc_id < 250
        |ORDER BY msg_id""".stripMargin,

    "p_splunk_export" ->
      """SELECT event_id, event_type AS etype, value AS val,
        |  ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS offset
        |FROM events WHERE event_id < 300
        |ORDER BY event_id""".stripMargin,

    "p_slack_users" ->
      """SELECT 'U' || LPAD(CAST(c_custkey AS VARCHAR), 6, '0') AS user_id,
        |  c_mktsegment AS team_id, c_name AS name
        |FROM customer WHERE c_custkey < 500 AND c_mktsegment = 'BUILDING'
        |ORDER BY user_id""".stripMargin,

    "p_nats_subjects" ->
      """WITH pub AS (
        |  SELECT doc_id, lang, ROW_NUMBER() OVER (ORDER BY doc_id) AS seq
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id, 'doc.' || lang AS subject, seq
        |FROM pub WHERE lang = 'en' ORDER BY doc_id""".stripMargin,

    "p_redis_streams" ->
      """SELECT doc_id, CAST(doc_id + 1 AS VARCHAR) || '-0' AS sid, lang
        |FROM documents WHERE doc_id < 150 ORDER BY doc_id""".stripMargin,

    "p_lakehouse_upsert" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
        |  CASE WHEN o_orderkey % 5 = 0 OR o_orderkey >= 1500
        |       THEN CAST(o_totalprice AS DOUBLE) + 100.0
        |       ELSE CAST(o_totalprice AS DOUBLE) END AS price,
        |  CASE WHEN o_orderkey % 5 = 0 OR o_orderkey >= 1500
        |       THEN 'updated' END AS status
        |FROM orders
        |WHERE o_orderkey < 2000 AND o_orderkey % 13 <> 0
        |ORDER BY k""".stripMargin,

    "p_iceberg_pruned" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
        |  CAST(o_totalprice AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey >= 600 AND o_orderkey <= 1300
        |ORDER BY k""".stripMargin,

    "p_iceberg_mor" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
        |  CASE WHEN o_orderkey % 5 = 0 THEN CAST(o_totalprice AS DOUBLE) + 20.0
        |       ELSE CAST(o_totalprice AS DOUBLE) END AS price,
        |  CASE WHEN o_orderkey % 5 = 0 THEN 'M' END AS status
        |FROM orders
        |WHERE o_orderkey < 1500 AND o_orderkey % 9 <> 0
        |ORDER BY k""".stripMargin,

    "p_iceberg_posdel" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
        |  CASE WHEN o_orderkey % 6 = 0 THEN CAST(o_totalprice AS DOUBLE) + 30.0
        |       ELSE CAST(o_totalprice AS DOUBLE) END AS price
        |FROM orders
        |WHERE o_orderkey < 1500 AND o_orderkey % 13 <> 0
        |ORDER BY k""".stripMargin,

    "p_iceberg_commit" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
        |  CASE WHEN o_orderkey % 7 = 0 THEN CAST(o_totalprice AS DOUBLE) + 50.0
        |       ELSE CAST(o_totalprice AS DOUBLE) END AS price,
        |  o_orderkey % 4 AS pb,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'upd'
        |       WHEN o_orderkey >= 1200 THEN 'added' END AS status
        |FROM orders
        |WHERE o_orderkey < 1500 AND o_orderkey % 11 <> 0
        |ORDER BY k""".stripMargin,

    "p_retry" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN lang ELSE CAST(doc_id AS VARCHAR) END AS value,
        |  CASE WHEN doc_id % 2 = 0 THEN NULL ELSE 'cache miss' END AS error
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    "p_geoip" ->
      """SELECT n.n_name AS country, COUNT(*) AS n
        |FROM events e
        |JOIN nation n ON n.n_nationkey = CAST(FLOOR((e.user_id % 200) / 8) AS BIGINT)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "p_geoip_mmdb" ->
      """SELECT n.n_name AS country, COUNT(*) AS n
        |FROM events e
        |JOIN nation n ON n.n_nationkey = CAST(FLOOR((e.user_id % 200) / 8) AS BIGINT)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "p_http_enrich" ->
      """WITH req AS (
        |  SELECT doc_id,
        |    '{"doc_id":' || doc_id || ',"lang":"' || lang || '"}' AS v
        |  FROM documents WHERE doc_id < 500 AND lang IS NOT NULL)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 0 THEN v
        |       ELSE '{"echo":' || v || ',"len":' || LEN(v) || '}' END AS value,
        |  CASE WHEN doc_id % 10 = 0 THEN 'http status 404' END AS error
        |FROM req ORDER BY doc_id""".stripMargin,

    "m_embed_batch" ->
      """SELECT doc_id,
        |  ROUND(CAST(CAST(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 8),
        |      k -> (STRPOS('0123456789abcdef',
        |              SUBSTR(SUBSTR(MD5(text || ':0'), 25, 8), CAST(k AS INT), 1)) - 1)
        |        * POW(16, 8 - k))) / 4294967295.0 AS REAL) AS DOUBLE), 6) AS e0,
        |  8 AS dim
        |FROM documents WHERE doc_id < 100 AND LEN(text) > 0
        |ORDER BY doc_id""".stripMargin,

    "t_simhash_md5" ->
      """WITH f AS (
        |  SELECT doc_id, LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\f\r]+'),
        |    t -> LEN(t) > 0) AS toks
        |  FROM documents WHERE doc_id < 200),
        |sh AS (
        |  SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
        |    GENERATE_SERIES(1, LEN(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
        |  FROM f WHERE LEN(toks) >= 3),
        |hx AS (SELECT doc_id, SUBSTR(MD5(sh), 17, 16) AS h FROM sh),
        |js AS (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS j),
        |bits AS (
        |  SELECT doc_id, j,
        |    ((STRPOS('0123456789abcdef', SUBSTR(h, CAST(j//4 AS INT)+1, 1)) - 1)
        |      >> CAST(3 - j%4 AS INT)) & 1 AS bit
        |  FROM hx, js),
        |sb AS (
        |  SELECT doc_id, j, CASE WHEN SUM(2*bit-1) > 0 THEN 1 ELSE 0 END AS sbit
        |  FROM bits GROUP BY doc_id, j),
        |nb AS (
        |  SELECT doc_id, CAST(j//4 AS INT) AS nib,
        |    SUM(sbit * CAST(POW(2, 3 - j%4) AS BIGINT)) AS nv
        |  FROM sb GROUP BY doc_id, CAST(j//4 AS INT))
        |SELECT doc_id,
        |  STRING_AGG(SUBSTR('0123456789abcdef', CAST(nv AS INT)+1, 1), '' ORDER BY nib) AS simhash
        |FROM nb GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "m_media_meta" ->
      """SELECT doc_id, 'image/png' AS mime,
        |  CAST(doc_id % 640 + 1 AS INT) AS width,
        |  CAST(doc_id % 480 + 1 AS INT) AS height
        |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin,

    "m_video_frames" ->
      """SELECT d.doc_id, CAST(i.i AS INT) AS frame_idx,
        |  'image/jpeg' AS mime,
        |  CAST(8 + (d.doc_id % 4) * 4 AS INT) AS width,
        |  CAST(8 AS INT) AS height
        |FROM documents d
        |JOIN (VALUES (0), (2), (4)) AS i(i) ON i.i <= d.doc_id % 5
        |WHERE d.doc_id < 50
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "p_parquet_blob" ->
      """SELECT n_regionkey AS key, n_nationkey AS id, n_name AS name
        |FROM nation ORDER BY id""".stripMargin,

    "p_enrich_lookup" ->
      """SELECT p.p_brand, COUNT(*) AS n,
        |  ROUND(SUM(CAST(l.l_quantity AS DOUBLE)), 2) AS qty
        |FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE l.l_orderkey < 1000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "p_archive_json" ->
      """SELECT lang AS key,
        |  '[' || STRING_AGG(p, ',' ORDER BY doc_id) || ']' AS archived,
        |  COUNT(*) AS n
        |FROM (SELECT lang, doc_id,
        |        CAST(to_json(struct_pack(doc_id := doc_id)) AS VARCHAR) AS p
        |      FROM documents WHERE doc_id < 40) t
        |GROUP BY lang ORDER BY key""".stripMargin,

    "p_unarchive_json" ->
      """SELECT lang AS key,
        |  CAST(to_json(struct_pack(doc_id := doc_id)) AS VARCHAR) AS part
        |FROM documents WHERE doc_id < 40
        |ORDER BY key, part""".stripMargin,

    "p_unarchive_csv" ->
      """SELECT n_regionkey AS key, CAST(n_nationkey AS VARCHAR) AS id,
        |  n_name AS name
        |FROM nation ORDER BY key, id, name""".stripMargin,

    "p_scanner_switch" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 60)
        |SELECT value FROM (
        |  SELECT 'l1-' || doc_id AS value FROM ids WHERE doc_id % 3 = 0
        |  UNION ALL SELECT 'l2-' || doc_id FROM ids WHERE doc_id % 3 = 0
        |  UNION ALL SELECT 'E1-' || doc_id || ' ' FROM ids WHERE doc_id % 3 = 1
        |  UNION ALL SELECT 'E2-' || doc_id FROM ids WHERE doc_id % 3 = 1
        |  UNION ALL SELECT 'whole-' || doc_id FROM ids WHERE doc_id % 3 = 2
        |) t ORDER BY value""".stripMargin,

    "p_insert_part" ->
      """WITH b AS (
        |  SELECT source, SUBSTR(text, 1, 10) AS payload,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS idx
        |  FROM documents WHERE doc_id < 40)
        |SELECT source,
        |  CAST(CASE WHEN idx >= 1 THEN idx + 1 ELSE idx END AS INT) AS batch_idx,
        |  payload FROM b
        |UNION ALL
        |SELECT DISTINCT source, 1 AS batch_idx, 'INSERTED' AS payload FROM b
        |ORDER BY source, batch_idx""".stripMargin,

    "p_read_until" ->
      """WITH cut AS (
        |  SELECT user_id, MIN(CASE WHEN event_type = 'error' THEN event_id END) AS c
        |  FROM events GROUP BY user_id)
        |SELECT e.user_id, COUNT(*) AS n_consumed
        |FROM events e JOIN cut ON e.user_id = cut.user_id
        |WHERE cut.c IS NULL OR e.event_id <= cut.c
        |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin,

    "p_group_by" ->
      """SELECT CASE WHEN event_type = 'error' THEN 0
        |  WHEN value > 150.0 THEN 1 ELSE -1 END AS "group",
        |  COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "p_select_parts" ->
      """SELECT source, CAST(batch_idx AS INT) AS batch_idx, doc_id FROM (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS batch_idx
        |  FROM documents) t
        |WHERE batch_idx IN (0, 2) ORDER BY source, batch_idx""".stripMargin,

    "p_split" ->
      """SELECT lang, sub_batch, COUNT(*) AS n FROM (
        |  SELECT lang, CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY doc_id) - 1) / 25) AS BIGINT) AS sub_batch
        |  FROM documents) t
        |GROUP BY lang, sub_batch ORDER BY lang, sub_batch""".stripMargin,

    "p_try_catch" ->
      """SELECT COALESCE(CASE WHEN regexp_full_match(
        |    json_extract_string(props, '$.k'), '-?\d{1,9}')
        |  THEN CAST(json_extract_string(props, '$.k') AS INT) END, -1) AS k,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "p_text_chunker" ->
      """SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  SUBSTR(text, 1 + i * 80, 100) AS chunk
        |FROM documents, LATERAL (
        |  SELECT UNNEST(GENERATE_SERIES(0,
        |    CAST(CEIL(LENGTH(text) / 80.0) AS BIGINT) - 1)) AS i) g
        |WHERE doc_id < 30
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "p_compress" ->
      """SELECT doc_id, true AS gzip_ok, true AS zstd_ok, true AS snappy_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p_avro_roundtrip" ->
      """SELECT doc_id, lang AS lang_rt FROM documents ORDER BY doc_id""",

    "p_wire_registry" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 10 <> 0 AND event_id % 2 = 0
        |       THEN event_type END AS etype_rt,
        |  CASE WHEN event_id % 10 <> 0 AND event_id % 2 = 1
        |       THEN CAST(user_id AS VARCHAR) END AS uid_rt,
        |  CASE WHEN event_id % 10 = 0
        |       THEN 'schema registry: unknown schema id 7' END AS error
        |FROM events ORDER BY event_id""".stripMargin,

    "p_wire_http_registry" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 10 <> 0 AND event_id % 2 = 0
        |       THEN event_type END AS etype_rt,
        |  CASE WHEN event_id % 10 <> 0 AND event_id % 2 = 1
        |       THEN CAST(user_id AS VARCHAR) END AS uid_rt,
        |  CASE WHEN event_id % 10 = 0
        |       THEN 'schema registry: unknown schema id 7' END AS error
        |FROM events ORDER BY event_id""".stripMargin,

    "p_wire_format" ->
      """SELECT event_id, event_type AS etype_rt FROM events ORDER BY event_id""",

    "p_grok" ->
      """SELECT event_id, STRFTIME(ts, '%Y-%m-%dT%H:%M:%S') AS tstamp,
        |  'INFO' AS level, CAST(user_id AS VARCHAR) AS guser, event_type AS etype
        |FROM events ORDER BY event_id""".stripMargin,

    "p_logfmt" ->
      """SELECT event_id, CAST(user_id AS VARCHAR) AS luser, event_type AS ltype,
        |  event_id AS lid
        |FROM events ORDER BY event_id""".stripMargin,

    "p_parse_log" ->
      """SELECT event_id, CAST(16 AS INT) AS facility,
        |  CAST(event_id % 8 AS INT) AS severity,
        |  STRFTIME(ts, '%Y-%m-%dT%H:%M:%S') || 'Z' AS tsp,
        |  'host-' || CAST(user_id AS VARCHAR) AS host,
        |  'app' AS app, 'evt=' || event_type AS message
        |FROM events ORDER BY event_id""".stripMargin,

    "p_jmespath" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS VARCHAR) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "p_yaml" ->
      """SELECT doc_id, lang AS ylang FROM documents ORDER BY doc_id""",

    "p_pipeline_e2e" ->
      """WITH g AS (SELECT CAST(range AS BIGINT) AS id FROM range(200)),
        |m AS (SELECT id,
        |  CASE WHEN id % 5 = 0 THEN 'oops' ELSE CAST(id % 97 AS VARCHAR) END AS k,
        |  CASE WHEN id % 7 = 0 THEN 'review' ELSE 'clean' END AS grade FROM g),
        |p AS (SELECT id, grade,
        |  CASE WHEN regexp_full_match(k, '-?\d+') THEN CAST(k AS INT)
        |    ELSE -1 END AS kv FROM m)
        |SELECT CASE WHEN grade = 'review' THEN 'review'
        |  WHEN kv >= 50 THEN 'high' ELSE 'low' END AS route,
        |  COUNT(*) AS n, CAST(SUM(kv) AS BIGINT) AS sum_kv
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

    "p_branch" ->
      """SELECT doc_id, lang,
        |  CAST(LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\f\r]+'),
        |    t -> LEN(t) > 0)) AS BIGINT) AS n_toks
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p_noop" ->
      "SELECT * FROM region ORDER BY r_regionkey",

    "p_workflow" ->
      """SELECT u.user_id, u.n_events, COALESCE(p.spend, 0.0) AS spend FROM
        |  (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1) u
        |LEFT JOIN
        |  (SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |   FROM events WHERE event_type = 'purchase' GROUP BY 1) p
        |USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "q14_intersect" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |INTERSECT
        |SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id""".stripMargin,

    "q12_sliding_window" ->
      """SELECT epoch_us(ws) AS win_start_us, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM (
        |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - k * INTERVAL 30 MINUTE AS ws,
        |    value
        |  FROM events CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 1)) AS k) g) t
        |GROUP BY ws ORDER BY 1""".stripMargin,

    "q13_session_window" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |      OR ts - LAG(ts) OVER w >= INTERVAL 4 HOUR THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, epoch_us(MIN(ts)) AS sess_start_us,
        |  epoch_us(MAX(ts) + INTERVAL 4 HOUR) AS sess_end_us,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, sess_start_us""".stripMargin,

    "t_dedupe_ttl" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM (
        |  SELECT event_id, user_id, event_type, ts,
        |    LAG(ts) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS prev
        |  FROM events) t
        |WHERE prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 86400000000
        |ORDER BY event_id""".stripMargin,

    "b_mapping" ->
      """SELECT doc_id, UPPER(lang) AS lang_uc, SUBSTR(text, 1, 40) AS head,
        |  CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> LEN(w) > 0)) AS BIGINT) AS n_words
        |FROM documents ORDER BY doc_id""".stripMargin,

    "b_string_methods" ->
      """SELECT doc_id, UPPER(source) AS up,
        |  source LIKE 'c%' AS pre,
        |  REPLACE(lang, 'e', 'E') AS rep,
        |  lang || ':' || source AS cat,
        |  REVERSE(lang) AS rev
        |FROM documents ORDER BY doc_id""".stripMargin,

    "b_regex_methods" ->
      """SELECT doc_id,
        |  REGEXP_MATCHES(text, '[0-9]') AS has_digits,
        |  REGEXP_REPLACE(SUBSTR(text, 1, 20), '[aeiou]', '_', 'g') AS novowels
        |FROM documents ORDER BY doc_id""".stripMargin,

    "b_numeric_methods" ->
      """SELECT event_id,
        |  CAST(CEIL(value / 7.0) AS BIGINT) AS c,
        |  CAST(FLOOR(value / 7.0) AS BIGINT) AS f,
        |  value * 2.0 + 1.0 AS scaled,
        |  GREATEST(value, 100.0) AS vmax
        |FROM events ORDER BY event_id""".stripMargin,

    "b_timestamp_methods" ->
      """SELECT event_id,
        |  STRFTIME(ts, '%Y-%m-%d') AS day,
        |  STRFTIME(ts, '%H:%M') AS hm,
        |  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS unix
        |FROM events ORDER BY event_id""".stripMargin,

    "b_methods_t2" ->
      """SELECT doc_id, doc_id & 255 AS band, doc_id & 65535 AS u16,
        |  CAST(LENGTH(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(text,
        |    '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
        |    '''', '&#39;'), '"', '&#34;')) AS BIGINT) AS esc_len,
        |  SUBSTR(text, 1, 10) AS sliced
        |FROM documents ORDER BY doc_id""".stripMargin,

    "b_hash_encode" ->
      """SELECT doc_id, MD5(text) AS h_md5,
        |  SHA256(text) AS h_sha,
        |  TO_BASE64(ENCODE(lang)) AS b64,
        |  lang AS rt
        |FROM documents ORDER BY doc_id""".stripMargin,

    "b_match_route" ->
      """SELECT CASE
        |  WHEN event_type = 'error' THEN 'alerts'
        |  WHEN value > 150.0 THEN 'big'
        |  ELSE 'archive' END AS route, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "b_filter_delete" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE NOT (n_chars < 300) ORDER BY doc_id""".stripMargin,

    "b_pipe_coalesce" ->
      """SELECT event_id,
        |  COALESCE(json_extract_string(props, '$.k'), 'none') AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "b_interpolation" ->
      """SELECT doc_id,
        |  'doc ' || doc_id || ' [' || UPPER(lang) || '] ' || n_chars || ' chars' AS line
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t_token_count" ->
      """SELECT doc_id,
        |  CAST(LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\f\r]+'),
        |    t -> LEN(t) > 0)) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(LEN(regexp_extract_all(text,
        |    '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^ \t\n\f\rA-Za-z0-9]+|[ \t\n\f\r]+'))
        |    AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t_chunk_token" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text,
        |    '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^ \t\n\f\rA-Za-z0-9]+|[ \t\n\f\r]+') AS tk
        |  FROM documents WHERE doc_id < 30),
        |st AS (
        |  SELECT doc_id, tk, UNNEST(GENERATE_SERIES(1, LEN(tk), 24)) AS s
        |  FROM toks WHERE LEN(tk) > 0)
        |SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS INT) AS chunk_idx,
        |  ARRAY_TO_STRING(tk[s:s+31], '') AS chunk
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,

    "t_fingerprint" ->
      """SELECT doc_id,
        |  MD5(LOWER(REGEXP_REPLACE(TRIM(text), '[ \t\n\f\r]+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t_dedupe_exact" ->
      """SELECT MD5(LOWER(REGEXP_REPLACE(TRIM(text), '[ \t\n\f\r]+', ' ', 'g'))) AS fp,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,

    "t_quality_score" ->
      """WITH f AS (
        |  SELECT doc_id, text, LENGTH(text) AS len,
        |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\f\r]+'),
        |      t -> LEN(t) > 0) AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CASE WHEN len = 0 THEN 0 ELSE
        |      LENGTH(REGEXP_REPLACE(text, '[^A-Za-z]', '', 'g')) / CAST(len AS DOUBLE) END AS alpha_ratio,
        |    CASE WHEN len = 0 THEN 0 ELSE
        |      LENGTH(REGEXP_REPLACE(text, '[^ \t\n]', '', 'g')) / CAST(len AS DOUBLE) END AS space_ratio,
        |    CASE WHEN LEN(toks) = 0 THEN 0 ELSE
        |      LEN(LIST_FILTER(toks, t -> LOWER(t) IN
        |        ('the','a','of','and','to','in','is','it'))) / CAST(LEN(toks) AS DOUBLE) END AS stop_ratio,
        |    LEAST(len / 500.0, 1.0) AS len_score
        |  FROM f)
        |SELECT doc_id, ROUND(0.35 * alpha_ratio + 0.25 * LEAST(stop_ratio * 4, 1.0)
        |  + 0.20 * len_score + 0.20 * LEAST(space_ratio * 5, 1.0) + 1e-9, 4) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,

    "t_langid" ->
      """WITH f AS (
        |  SELECT doc_id, LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\f\r]+'),
        |    t -> LEN(t) > 0) AS toks
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    LEN(LIST_FILTER(toks, t -> LOWER(t) IN ('the','and','of','is','a'))) AS en,
        |    LEN(LIST_FILTER(toks, t -> LOWER(t) IN ('der','und','die','ist','das'))) AS de,
        |    LEN(LIST_FILTER(toks, t -> LOWER(t) IN ('le','la','et','est','les'))) AS fr,
        |    LEN(LIST_FILTER(toks, t -> LOWER(t) IN ('el','los','es','y','una'))) AS es
        |  FROM f)
        |SELECT doc_id, CASE
        |  WHEN GREATEST(en, de, fr, es) = 0 THEN 'unknown'
        |  WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |  WHEN de >= fr AND de >= es THEN 'de'
        |  WHEN fr >= es THEN 'fr'
        |  ELSE 'es' END AS lang_pred
        |FROM h ORDER BY doc_id""".stripMargin,

    "t_ngram_jaccard" -> exactJaccardSql,

    "t_minhash_lsh" -> exactJaccardSql,

    "t_dedup_clusters" ->
      """WITH RECURSIVE f AS (
        |  SELECT doc_id, LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\f\r]+'),
        |    t -> LEN(t) > 0) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN LEN(toks) < 3 THEN [] ELSE
        |    LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS s
        |  FROM f),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE LEN(a.s) + LEN(b.s) > 0
        |    AND CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE) /
        |      (LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s))) >= 0.35),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
        |SELECT src AS id, LEAST(src, MIN(dst)) AS rep
        |FROM reach GROUP BY src ORDER BY id""".stripMargin,

    "s_cosine_topk" -> cosineTopkSql,

    "s_vector_store" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    ROUND(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
        |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
        |      (SQRT(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
        |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))) *
        |       SQRT(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
        |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))
        |      , 6) AS sim
        |  FROM embeddings c, q)
        |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM (
        |  SELECT query_id, neighbor_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "p_nanomsg_roundtrip" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 350 ORDER BY doc_id""".stripMargin,

    "p_zmq_roundtrip" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 400 ORDER BY doc_id""".stripMargin,

    "s_cyborgdb_roundtrip" ->
      """SELECT vec_id,
        |  ROUND(LIST_SUM(LIST_TRANSFORM(embedding,
        |    x -> CAST(x AS DOUBLE))), 4) AS vec_sum
        |FROM embeddings WHERE vec_id < 300
        |ORDER BY vec_id""".stripMargin,

    "p_sftp_roundtrip" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 300 ORDER BY doc_id""".stripMargin,

    "p_drive_search" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 400 ORDER BY doc_id""".stripMargin,

    "p_bigquery_select" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 500 ORDER BY doc_id""".stripMargin,

    "p_cosmosdb_docs" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 9 = 0 AND doc_id % 11 <> 0
        |       THEN n_chars + 500 ELSE n_chars END AS n_chars
        |FROM documents
        |WHERE doc_id < 500 AND doc_id % 11 <> 0
        |ORDER BY doc_id""".stripMargin,

    "p_lambda_invoke" ->
      """SELECT doc_id,
        |  CAST(length(lang || '/' || n_chars) AS VARCHAR) || ':' ||
        |    upper(lang || '/' || n_chars) AS reply
        |FROM documents WHERE doc_id < 350 ORDER BY doc_id""".stripMargin,

    "p_serverless_handler" ->
      """SELECT doc_id, lang, n_chars > 500 AS big
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin,

    "p_rag_ingest" ->
      """SELECT 'modules/s' || CAST(doc_id % 5 AS VARCHAR) ||
        |  '/doc_' || CAST(doc_id AS VARCHAR) || '.adoc' AS path,
        |  text AS document
        |FROM documents WHERE doc_id < 120 ORDER BY path""".stripMargin,

    "p_rag_e2e" ->
      """SELECT 'rp.ai.rag.docs' AS topic,
        |  CAST(doc_id AS VARCHAR) AS key,
        |  CAST(0 AS BIGINT) AS chunk_id,
        |  text AS document
        |FROM documents
        |WHERE n_chars <= 400
        |  AND text IN (SELECT text FROM documents
        |               GROUP BY text HAVING COUNT(*) = 1)
        |ORDER BY doc_id LIMIT 24""".stripMargin,

    "p_dynamodb_partiql" ->
      """SELECT doc_id, lang || '|' || n_chars AS stored
        |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin,

    "p_gcs_roundtrip" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 350 ORDER BY doc_id""".stripMargin,

    "p_azure_blob" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 450 ORDER BY doc_id""".stripMargin,

    "p_s3_roundtrip" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 500 ORDER BY doc_id""".stripMargin,

    "p_crdb_changefeed" ->
      """SELECT 'orders' AS tbl, o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 8 = 0 THEN o_totalprice + 7.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE o_orderkey < 1100
        |ORDER BY o_orderkey""".stripMargin,

    "p_git_files" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 300 ORDER BY doc_id""".stripMargin,

    "p_a2a_message" ->
      """SELECT doc_id, reverse(upper(lang || '-' || n_chars)) AS reply
        |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin,

    "p_arc_write" ->
      """SELECT event_type, event_id, value FROM events
        |WHERE event_id < 2500 ORDER BY event_id""".stripMargin,

    "p_timeplus_roundtrip" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE event_id < 3000 ORDER BY event_id""".stripMargin,

    "p_couchbase_kv" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 6 = 0 THEN n_chars + 50
        |       ELSE n_chars END AS n_chars
        |FROM documents
        |WHERE doc_id < 600 AND doc_id % 11 <> 0
        |ORDER BY doc_id""".stripMargin,

    "p_oracle_cdc" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 9 = 0 AND o_orderkey % 13 <> 0
        |       THEN o_totalprice + 5.0 ELSE o_totalprice END AS o_totalprice,
        |  o_orderpriority
        |FROM orders
        |WHERE o_orderkey < 1000 AND o_orderkey % 13 <> 0
        |ORDER BY o_orderkey""".stripMargin,

    "p_cypher_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey < 900 ORDER BY o_orderkey""".stripMargin,

    "p_memcached_cache" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 500 AND doc_id % 7 <> 0
        |ORDER BY doc_id""".stripMargin,

    "p_doris_load" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 800 ORDER BY doc_id""".stripMargin,

    "p_hdfs_roundtrip" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 400 ORDER BY doc_id""".stripMargin,

    "p_pusher_events" ->
      """SELECT event_type AS channel, 'evt' AS name, event_id, value
        |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin,

    "p_questdb_write" ->
      """SELECT event_id, user_id, event_type, value, ts
        |FROM events ORDER BY event_id""".stripMargin,

    "p_mssql_cdc" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CASE WHEN o_orderkey < 1200 AND o_orderkey % 9 = 0
        |       THEN o_totalprice + 5.0 ELSE o_totalprice END AS o_totalprice,
        |  o_orderpriority
        |FROM orders
        |WHERE o_orderkey < 1300
        |  AND NOT (o_orderkey < 1200 AND o_orderkey % 13 = 0)
        |ORDER BY o_orderkey""".stripMargin,

    "p_elastic_bulk" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 4 = 0 THEN n_chars + 1000
        |       ELSE n_chars END AS n_chars
        |FROM documents
        |WHERE doc_id < 600 AND doc_id % 10 <> 0
        |ORDER BY doc_id""".stripMargin,

    "s_pinecone_topk" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    ROUND(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
        |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
        |      (SQRT(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
        |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))) *
        |       SQRT(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
        |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))
        |      , 6) AS sim
        |  FROM embeddings c, q)
        |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM (
        |  SELECT query_id, neighbor_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "s_qdrant_topk" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    ROUND(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
        |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
        |      (SQRT(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
        |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))) *
        |       SQRT(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
        |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))
        |      , 6) AS sim
        |  FROM embeddings c, q)
        |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM (
        |  SELECT query_id, neighbor_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "s_cosine_ivf" -> cosineTopkSql,

    // Planted exact twins: an identical pair collides in every LSH
    // table with probability 1, and no random pair in the synthetic
    // corpus reaches cosine 0.95 (neighbors top out ~0.5), so the
    // sim ≥ 0.95 cut leaves exactly the twins at rank 1, sim 1.0.
    "s_cosine_lsh" ->
      """SELECT vec_id + 1000000 AS query_id, CAST(1 AS INTEGER) AS rank,
        |  vec_id AS neighbor_id, CAST(1.0 AS DOUBLE) AS sim
        |FROM embeddings WHERE vec_id < 50 ORDER BY query_id""".stripMargin,

    "s_embed_dedup" ->
      """WITH p AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
        |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
        |      (SQRT(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
        |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) *
        |       SQRT(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
        |        i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
        |      AS sim_raw
        |  FROM p a JOIN p b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, ROUND(sim_raw, 6) AS sim FROM scored
        |WHERE sim_raw >= 0.95 ORDER BY id_a, id_b""".stripMargin)
}
