package graft.queries

import graft.Tables
import graft.ops.{Extract, Facts, MergeOps, Scd2}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity operators (SURVEY.md §2), each re-expressed over the
  * driver's synthetic tables with a DuckDB oracle. Reference citations are on
  * each query.
  */
object CoreQueries {
  import Registry.{epochS, epochSql}

  // Frozen run timestamps (P8: Postgres statement-level now() → one frozen
  // literal per job, SURVEY.md §4.4). Events span 2024-01-01..01-30.
  private val CutoffTs = "2024-01-15 00:00:00"
  private val CutoffEpoch = 1705276800L
  private val RunTs = "2024-02-01 00:00:00"
  private val RunEpoch = 1706745600L

  /** Shared fixture for the pruned-upsert family (m1b/io2/io3/m8/m9): the
    * same two incremental loads — pre-cutoff bootstrap at [[CutoffTs]],
    * then the full snapshot at [[RunTs]] — into a fresh PK-bucketed
    * partition-manifested table. `body` receives (table, v0, v1) and its
    * result is materialized before the tempdir is deleted. */
  private def withTwoLoadUpsert(s: SparkSession, d: String)(
      body: (java.nio.file.Path, Long, Long) => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("upsert2")
    val table = dir.resolve("stg_events")
    val ev = Tables.events(s, d).withColumn("ts", col("ts").cast("timestamp"))
    // ONE aggregation computes both load snapshots (two latestByKey runs
    // would scan and shuffle the event log twice); localCheckpoint
    // materializes it once for both loads.
    val packed = MergeOps.latestSnapshots(
        ev.select(col("user_id"), col("event_type"), col("value"),
          col("ts"), col("event_id")),
        pk = Seq("user_id"), versionCols = Seq(col("ts"), col("event_id")),
        snapshots = Seq("cur" -> lit(true),
          "pre" -> (col("ts") < lit(CutoffTs).cast("timestamp"))))
      .localCheckpoint()
    def load(c: String, ts: String) =
      MergeOps.prunedConditionalUpsert(table,
        packed.filter(col(c).isNotNull)
          .select(col("user_id"), col(s"$c.event_type").as("event_type"),
            col(s"$c.value").as("value"),
            lit(null).cast("timestamp").as("loaded_at"),
            lit(null).cast("timestamp").as("last_upd_at")),
        pk = Seq("user_id"), tracked = Seq("event_type", "value"),
        runTs = lit(ts).cast("timestamp"), nParts = 16)
    try {
      val v0 = load("pre", CutoffTs)
      val v1 = load("cur", RunTs)
      body(table, v0, v1).localCheckpoint()
    } finally graft.ops.Storage.deleteRecursively(dir)
  }

  /** Fixture for cross-table incremental view maintenance (m11): TWO
    * PK-bucketed partition-manifested tables — a customer dimension and an
    * orders fact — each loaded twice so that BOTH sides change between the
    * view's refresh points. The bootstrap states are deterministic
    * perturbations of the true tables (keys withheld → later inserts,
    * values skewed → later updates); the second load restores the truth,
    * and a pruned DELETE removes `o_orderkey % 13 == 0` from orders — so
    * the two change feeds together carry inserts, updates (including
    * group-key moves: `c_nationkey` changes) and deletes. `body` receives
    * (custTable, custV0, custV1, ordTable, ordV0, ordVFinal). */
  private def withJoinViewTables(s: SparkSession, d: String)(
      body: (java.nio.file.Path, Long, Long, java.nio.file.Path, Long, Long) => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("ivm2")
    val cust = dir.resolve("dim_customer")
    val ord = dir.resolve("fct_orders")
    val cTrue = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val oTrue = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    def stamp(df: DataFrame) = df
      .withColumn("loaded_at", lit(null).cast("timestamp"))
      .withColumn("last_upd_at", lit(null).cast("timestamp"))
    def loadCust(df: DataFrame, ts: String) =
      MergeOps.prunedConditionalUpsert(cust, stamp(df),
        pk = Seq("c_custkey"), tracked = Seq("c_nationkey"),
        runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
    def loadOrd(df: DataFrame, ts: String) =
      MergeOps.prunedConditionalUpsert(ord, stamp(df),
        pk = Seq("o_orderkey"), tracked = Seq("o_custkey", "o_totalprice"),
        runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
    try {
      // bootstrap: customers missing the %7 keys, nation skewed for %10;
      // orders restricted to even keys, price skewed for %11
      val cv0 = loadCust(
        cTrue.filter(col("c_custkey") % 7 =!= 0)
          .withColumn("c_nationkey",
            when(col("c_custkey") % 10 === 0,
              ((col("c_nationkey") + 1) % 25).cast("int"))
              .otherwise(col("c_nationkey"))),
        CutoffTs)
      val ov0 = loadOrd(
        oTrue.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 11 === 0, col("o_totalprice") + 42.0)
              .otherwise(col("o_totalprice"))),
        CutoffTs)
      // refresh interval: truth restored on both sides…
      val cv1 = loadCust(cTrue, RunTs)
      loadOrd(oTrue, RunTs)
      // …plus a takedown on the fact side (delete branch of the feed)
      val doomed = oTrue.select(col("o_orderkey")).filter(col("o_orderkey") % 13 === 0)
      val ovF = MergeOps.prunedDelete(ord, doomed, pk = Seq("o_orderkey"),
        nParts = 8, keepVersions = 4)
      body(cust, cv0, cv1, ord, ov0, ovF).localCheckpoint()
    } finally graft.ops.Storage.deleteRecursively(dir)
  }

  /** m1b and io2 read back the SAME final upsert state — one oracle text
    * (the relational full-outer merge of the pre-cutoff and full
    * latest-by-key snapshots). */
  private val UpsertStateOracle =
    s"""WITH o AS (SELECT user_id, event_type, value FROM (
       |    SELECT user_id, event_type, value,
       |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
       |    FROM events WHERE ts < TIMESTAMP '$CutoffTs') t WHERE rn = 1),
       |n AS (SELECT user_id, event_type, value FROM (
       |    SELECT user_id, event_type, value,
       |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
       |    FROM events) t WHERE rn = 1)
       |SELECT coalesce(n.user_id, o.user_id) AS user_id,
       |  CASE WHEN o.user_id IS NULL OR (n.user_id IS NOT NULL
       |         AND (o.event_type IS DISTINCT FROM n.event_type OR o.value IS DISTINCT FROM n.value))
       |       THEN n.event_type ELSE o.event_type END AS event_type,
       |  CASE WHEN o.user_id IS NULL OR (n.user_id IS NOT NULL
       |         AND (o.event_type IS DISTINCT FROM n.event_type OR o.value IS DISTINCT FROM n.value))
       |       THEN n.value ELSE o.value END AS value,
       |  CASE WHEN o.user_id IS NULL THEN $RunEpoch ELSE $CutoffEpoch END AS loaded_epoch,
       |  CASE WHEN o.user_id IS NULL OR (n.user_id IS NOT NULL
       |         AND (o.event_type IS DISTINCT FROM n.event_type OR o.value IS DISTINCT FROM n.value))
       |       THEN $RunEpoch ELSE $CutoffEpoch END AS upd_epoch
       |FROM o FULL JOIN n ON o.user_id = n.user_id""".stripMargin

  /** The five final projection columns every upsert-family query emits. */
  private def upsertStateCols(df: DataFrame): DataFrame =
    df.select(col("user_id"), col("event_type"), col("value"),
      epochS(col("loaded_at")).as("loaded_epoch"),
      epochS(col("last_upd_at")).as("upd_epoch"))

  def all: Seq[Q] = Seq(

    // S3 — raw-layer upsert = last-writer-wins keyed snapshot
    // (ref: extract_api_operator.py:36-43, ON CONFLICT DO UPDATE).
    Q("s3_raw_latest_snapshot",
      (s, d) => {
        val ev = Tables.events(s, d)
        MergeOps.latestByKey(ev, Seq("user_id"), Seq(col("ts"), col("event_id")))
          .select(col("user_id"), col("event_id"), col("event_type"), col("props"))
      },
      Some("""SELECT user_id, event_id, event_type, props FROM (
             |  SELECT user_id, event_id, event_type, props,
             |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events) t WHERE rn = 1""".stripMargin)),

    // S1/S2/S3 — the full paginated ingest path, oracle-checked: an
    // in-memory PageClient serves 100-row pages derived from the customer
    // table (pagination + retry are driver-side by design, mirroring the
    // reference's HTTP loop — the DISTRIBUTED work starts once pages land
    // as a DataFrame); page 2's first fetch throws to exercise the retry;
    // payloads re-extract to typed columns that must hash-match the
    // source table exactly.
    Q("s1_paginated_ingest",
      (s, d) => {
        // JSON string escaping on the synthesized payload: fixture names
        // are quote-free today, but a name with '"' or '\' would corrupt
        // the payload and surface as a confusing oracle mismatch far away
        def jstr(v: String) = "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        val src = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
          .orderBy(col("c_custkey"))
          .collect()
          .map(r => (r.getLong(0),
            s"""{"id":${r.getLong(0)},"name":${jstr(r.getString(1))},"nationkey":${r.getInt(2)}}"""))
        val pageSize = 100
        val client = new graft.ingest.RawIngest.PageClient {
          private var page2Failures = 1 // first fetch of page 2 is transient
          def fetchPage(n: Int): Option[graft.ingest.RawIngest.Page] = {
            if (n == 2 && page2Failures > 0) { page2Failures -= 1; sys.error("transient") }
            val slice = src.slice((n - 1) * pageSize, n * pageSize)
            if (slice.isEmpty) None else Some(slice.toSeq)
          }
        }
        val raw = graft.ingest.RawIngest.extractAll(s, client)
        raw.select(
          Extract.jsonText(col("payload"), "id").cast("long").as("id"),
          Extract.jsonText(col("payload"), "name").as("name"),
          Extract.jsonText(col("payload"), "nationkey").cast("int").as("nationkey"))
      },
      Some("SELECT c_custkey AS id, c_name AS name, c_nationkey AS nationkey FROM customer")),

    // P1/P3 — JSON scalar extraction + cast (ref: stg_character.py:53-61).
    Q("p1_json_extraction",
      (s, d) => Tables.events(s, d).select(
        col("event_id"),
        Extract.jsonInt(col("props"), "k").as("prop_k"),
        col("event_type")),
      Some("SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS prop_k, event_type FROM events")),

    // P5 + P6/P7 — NULLIF(TRIM(..)) and regex-guarded 'Month DD, YYYY' parse
    // (ref: stg_character.py:108, stg_episode.py:49-53). The guarded parse
    // round-trips o_orderdate through its English text form; every 100th key
    // is corrupted to exercise the malformed branch.
    Q("p5_p7_clean_parse",
      (s, d) => {
        val o = Tables.orders(s, d)
        val rawPriority = when(col("o_orderstatus") === "P", lit("  "))
          .otherwise(col("o_orderpriority"))
        val dateText = when(col("o_orderkey") % 100 === 0, lit("not a date"))
          .otherwise(date_format(col("o_orderdate"), "MMMM d, yyyy"))
        o.select(
          col("o_orderkey"),
          Extract.nullifEmpty(rawPriority).as("clean_priority"),
          date_format(Extract.guardedDate(dateText), "yyyy-MM-dd").as("parsed_date"))
      },
      Some("""SELECT o_orderkey,
             |  CASE WHEN o_orderstatus = 'P' THEN NULL ELSE trim(o_orderpriority) END AS clean_priority,
             |  CASE WHEN o_orderkey % 100 = 0 THEN NULL ELSE strftime(o_orderdate, '%Y-%m-%d') END AS parsed_date
             |FROM orders""".stripMargin)),

    // P2 — nested JSON object traversal `payload -> 'a' ->> 'b'`
    // (ref: stg_character.py:107-108). Orders are round-tripped through a
    // nested JSON payload, then extracted back: the oracle reads the flat
    // columns directly, proving extraction fidelity.
    Q("p2_nested_json",
      (s, d) => {
        val payload = to_json(struct(
          col("o_orderkey").as("id"),
          struct(col("o_orderstatus").as("status"),
            col("o_orderpriority").as("priority")).as("meta"),
          struct(col("o_custkey").as("custkey")).as("customer")))
        // one nested from_json parse (SURVEY §2.2's preferred P2 mapping —
        // four get_json_object calls would parse the payload four times)
        val nested =
          "id INT, meta STRUCT<status: STRING, priority: STRING>, customer STRUCT<custkey: BIGINT>"
        Tables.orders(s, d).select(payload.as("payload"))
          .select(from_json(col("payload"), org.apache.spark.sql.types.StructType.fromDDL(nested)).as("j"))
          .select(
            col("j.id").as("o_orderkey"),
            col("j.meta.status").as("status"),
            col("j.meta.priority").as("priority"),
            col("j.customer.custkey").as("custkey"))
      },
      Some("""SELECT CAST(o_orderkey AS INTEGER) AS o_orderkey, o_orderstatus AS status,
             |  o_orderpriority AS priority, o_custkey AS custkey FROM orders""".stripMargin)),

    // A1 on a real JSON string array: build per-order JSON payloads whose
    // `items` field is an array of part keys, then explode it — the exact
    // jsonb_array_elements_text shape (ref: stg_character.py:165-171).
    // Empty arrays (orders with no lineitem would be absent anyway) emit 0
    // rows, matching Postgres.
    Q("a2_json_array_explode",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val payloads = li.groupBy(col("l_orderkey"))
          .agg(to_json(struct(
            col("l_orderkey").as("id"),
            sort_array(collect_list(col("l_partkey").cast("string"))).as("items")))
            .as("payload"))
        // ONE from_json parse per payload (SURVEY §2.2: "prefer one
        // from_json per table") — separate get_json_object calls for id
        // and items would re-parse the JSON string per field (measured
        // 4.4s → 2.6s at sf0.1 on this query)
        val parsed = payloads.select(
          from_json(col("payload"), org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, items ARRAY<STRING>")).as("j"))
        parsed.select(
          col("j.id").as("orderkey"),
          explode(col("j.items")).as("partkey"))
      },
      Some("""SELECT l_orderkey AS orderkey, CAST(l_partkey AS VARCHAR) AS partkey
             |FROM lineitem""".stripMargin)),

    // S6/S7 — literal-rows seed + NOT-EXISTS singleton guard
    // (ref: configure.py:323-327, 270-302): seeding twice must not duplicate
    // the role rows or the unknown member.
    Q("s7_seed_singleton_guard",
      (s, d) => {
        import s.implicits._
        val roleSeed = Seq((1, "origin"), (2, "last")).toDF("role_id", "role_name")
        val unknown = Seq((-1, "Unknown")).toDF("role_id", "role_name")
        val once = MergeOps.insertIfAbsent(roleSeed, unknown, Seq("role_id"))
        // idempotent re-seed: ON CONFLICT DO NOTHING / WHERE NOT EXISTS
        val twice = MergeOps.insertIfAbsent(once, roleSeed.unionByName(unknown), Seq("role_id"))
        twice
      },
      Some("""SELECT * FROM (VALUES (1, 'origin'), (2, 'last'), (-1, 'Unknown'))
             |AS t(role_id, role_name)""".stripMargin)),

    // A1-A3 — set-returning array unnest (ref: stg_character.py:165-171,
    // jsonb_array_elements_text). Tokens play the role of the URL arrays.
    Q("a1_explode_tokens",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), explode(graft.ops.Text.tokens(col("text"))).as("token")),
      Some("SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents")),

    // F2 — null-safe IS DISTINCT FROM change detection
    // (ref: dwh_dim_character.py:63-69). k % 7 == 0 → NULL exercises the
    // NULL=NULL branch.
    Q("f2_change_detection",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val k = Extract.jsonInt(col("props"), "k")
        val e = Tables.events(s, d)
          .withColumn("v", when(k % 7 === 0, lit(null).cast("int")).otherwise(k))
        val wAsc = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        val first = e.withColumn("__rn", row_number().over(wAsc))
          .filter(col("__rn") === 1).select(col("user_id"), col("v").as("first_v"))
        val last = MergeOps.latestByKey(e, Seq("user_id"), Seq(col("ts"), col("event_id")))
          .select(col("user_id"), col("v").as("last_v"))
        first.join(last, Seq("user_id"))
          .select(col("user_id"), col("first_v"), col("last_v"),
            Extract.anyChanged(Seq((col("first_v"), col("last_v")))).as("changed"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, ts, event_id,
             |         CASE WHEN CAST(props->>'$.k' AS INTEGER) % 7 = 0 THEN NULL
             |              ELSE CAST(props->>'$.k' AS INTEGER) END AS v
             |  FROM events),
             |f AS (SELECT user_id, v AS first_v FROM (
             |  SELECT user_id, v, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn FROM e) t WHERE rn = 1),
             |l AS (SELECT user_id, v AS last_v FROM (
             |  SELECT user_id, v, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn FROM e) t WHERE rn = 1)
             |SELECT f.user_id, first_v, last_v,
             |       (first_v IS DISTINCT FROM last_v) AS changed
             |FROM f JOIN l ON f.user_id = l.user_id""".stripMargin)),

    // J1/J2 — equi-join FK resolution chain with broadcast dims
    // (ref: dwh_fact_character_episode.py:61-73, 88-93).
    Q("j2_fk_resolution",
      (s, d) => {
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val n = Tables.nation(s, d)
        val r = Tables.region(s, d)
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .select(col("o_orderkey"), col("c_name"), col("n_name"), col("r_name"))
      },
      Some("""SELECT o_orderkey, c_name, n_name, r_name
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey""".stripMargin)),

    // J3/F4 — left-join null-probe for "no current version exists"
    // (ref: dwh_dim_character.py:104-114). Spark's first-class left_anti.
    Q("j3_customers_without_orders",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")),
      Some("""SELECT c_custkey, c_name FROM customer c
             |LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o ON o.o_custkey = c.c_custkey
             |WHERE o.o_custkey IS NULL""".stripMargin)),

    // J4/M2 — incremental anti-join fact load
    // (ref: dwh_fact_character_episode.py:102-107).
    Q("j4_incremental_antijoin",
      (s, d) => {
        val o = Tables.orders(s, d)
        val existing = o.filter(col("o_orderdate").cast("date") < lit("1998-01-01").cast("date"))
        o.join(existing.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
          .select(col("o_orderkey"), col("o_custkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
      },
      Some("""SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date
             |FROM orders o
             |WHERE NOT EXISTS (SELECT 1 FROM orders e
             |  WHERE CAST(e.o_orderdate AS DATE) < DATE '1998-01-01'
             |    AND e.o_orderkey = o.o_orderkey)""".stripMargin)),

    // J5 — disjunctive unknown-member join, rewritten to a hash-joinable
    // equi-key on the Spark side (ref: dwh_fact_charer_location.py:107-112;
    // SURVEY.md §4.3). The oracle keeps the reference's OR form — matching
    // results prove the rewrite.
    Q("j5_unknown_member_join",
      (s, d) => {
        val fact = Tables.orders(s, d).select(
          col("o_orderkey"),
          when(col("o_custkey") % 10 === 0, lit(null).cast("string"))
            .otherwise(col("o_custkey").cast("string")).as("nk"))
        val dim = Tables.customer(s, d)
          .select(col("c_custkey").cast("string").as("nk"), col("c_custkey").cast("long").as("dim_id"))
          .unionByName(s.range(1).select(lit(null).cast("string").as("nk"), lit(-1L).as("dim_id")))
        Facts.joinWithUnknownMember(fact, dim, "nk", "nk", "dim_id")
          .groupBy(col("dim_id")).agg(count(lit(1)).as("n_orders"))
      },
      Some("""WITH f AS (SELECT o_orderkey,
             |    CASE WHEN o_custkey % 10 = 0 THEN NULL ELSE CAST(o_custkey AS VARCHAR) END AS nk
             |  FROM orders),
             |d AS (SELECT CAST(c_custkey AS VARCHAR) AS nk, CAST(c_custkey AS BIGINT) AS dim_id FROM customer
             |      UNION ALL SELECT NULL, CAST(-1 AS BIGINT))
             |SELECT d.dim_id, COUNT(*) AS n_orders
             |FROM f JOIN d ON (d.nk = f.nk OR (f.nk IS NULL AND d.dim_id = -1))
             |GROUP BY d.dim_id""".stripMargin)),

    // U1/U2 — SQL UNION = union + distinct (Spark union does NOT dedup;
    // ref: dwh_fact_character_episode.py:55-81).
    Q("u1_union_distinct",
      (s, d) => Facts.unionDistinct(
        Tables.customer(s, d).select(col("c_nationkey").as("nationkey")),
        Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"))),
      Some("SELECT c_nationkey AS nationkey FROM customer UNION SELECT s_nationkey AS nationkey FROM supplier")),

    // Constraint audit (SURVEY §1.3): the declarative PK/FK/NOT NULL
    // guarantees Postgres enforced, verified relationally. The testdata is
    // clean, so the interesting half injects violations: every 50th order
    // gets a dangling custkey and a duplicated orderkey.
    Q("quality1_constraint_audit",
      (s, d) => {
        val o = Tables.orders(s, d)
        val corrupted = o
          .withColumn("o_custkey",
            when(col("o_orderkey") % 50 === 0, lit(999999999L)).otherwise(col("o_custkey")))
          .unionByName(o.filter(col("o_orderkey") % 50 === 0))
        val pkViol = graft.ops.Quality
          .primaryKeyViolations(corrupted, Seq("o_orderkey"))
          .select(col("o_orderkey").as("violating_key"), lit("pk_duplicate").as("violation"))
        val fkViol = graft.ops.Quality
          .foreignKeyViolations(corrupted, "o_custkey", Tables.customer(s, d), "c_custkey")
          .select(col("o_custkey").as("violating_key"), lit("fk_dangling").as("violation"))
        pkViol.unionByName(fkViol)
      },
      Some("""WITH corrupted AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey % 50 = 0 THEN 999999999 ELSE o_custkey END AS o_custkey
             |  FROM orders
             |  UNION ALL
             |  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 50 = 0),
             |pk AS (SELECT o_orderkey AS violating_key, 'pk_duplicate' AS violation
             |  FROM corrupted GROUP BY o_orderkey HAVING COUNT(*) > 1),
             |fk AS (SELECT DISTINCT o_custkey AS violating_key, 'fk_dangling' AS violation
             |  FROM corrupted WHERE o_custkey IS NOT NULL
             |    AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
             |SELECT * FROM pk UNION ALL SELECT * FROM fk""".stripMargin)),

    // Malformed-payload quarantine — the raw layer's schema-on-read gate
    // (the reference ingests payloads unvalidated). Payloads are rebuilt
    // from orders with every 7th corrupted into non-JSON; quarantined =
    // payload present ∧ from_json NULL (map-side predicate,
    // ops.Quality.malformedJson). The oracle derives the same
    // classification from the corruption rule AND re-checks it with
    // DuckDB's independent json_valid parser — two parsers, one verdict.
    Q("dq2_malformed_quarantine",
      (s, d) => {
        val o = Tables.orders(s, d)
        val wellFormed = to_json(struct(
          col("o_orderkey").as("id"), col("o_orderpriority").as("priority")))
        val payload = when(col("o_orderkey") % 7 === 0,
          concat(lit("{corrupt"), col("o_orderpriority"))).otherwise(wellFormed)
        // ONE parse serves both outputs (Quality.parseJsonWithQuarantine)
        val parsed = graft.ops.Quality
          .parseJsonWithQuarantine(payload, "id BIGINT, priority STRING")
        o.select(col("o_orderkey"),
          parsed.getField("_corrupt_record").isNotNull.as("quarantined"),
          parsed.getField("id").as("parsed_id"))
      },
      Some("""SELECT o_orderkey,
             |  NOT json_valid(CASE WHEN o_orderkey % 7 = 0
             |    THEN concat('{corrupt', o_orderpriority)
             |    ELSE concat('{"id":', o_orderkey, ',"priority":"', o_orderpriority, '"}')
             |  END) AS quarantined,
             |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderkey END AS parsed_id
             |FROM orders""".stripMargin)),

    // Set operations beyond the reference's UNION: INTERSECT/EXCEPT
    // (SURVEY §2.6 notes the reference has none — completing the family).
    Q("u2_intersect_except",
      (s, d) => {
        val custNations = Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        val suppNations = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"))
        custNations.intersect(suppNations)
          .withColumn("side", lit("both"))
          .unionByName(custNations.except(suppNations)
            .withColumn("side", lit("customers_only")))
      },
      Some("""SELECT nationkey, 'both' AS side FROM (
             |  SELECT c_nationkey AS nationkey FROM customer
             |  INTERSECT SELECT s_nationkey FROM supplier) t
             |UNION ALL
             |SELECT nationkey, 'customers_only' AS side FROM (
             |  SELECT c_nationkey AS nationkey FROM customer
             |  EXCEPT SELECT s_nationkey FROM supplier) t2""".stripMargin)),

    // M1 — conditional upsert: update only when attrs IS DISTINCT FROM,
    // preserve loaded_at, bump last_upd_at (ref: stg_character.py:65-81).
    // Old state = per-user snapshot before the cutoff; incoming = current.
    Q("m1_conditional_upsert",
      (s, d) => {
        val ev = Tables.events(s, d).withColumn("ts", col("ts").cast("timestamp"))
        val oldSnap = MergeOps.latestByKey(
          ev.filter(col("ts") < lit(CutoffTs).cast("timestamp")),
          Seq("user_id"), Seq(col("ts"), col("event_id")))
          .select(col("user_id"), col("event_type"), col("value"),
            lit(CutoffTs).cast("timestamp").as("loaded_at"),
            lit(CutoffTs).cast("timestamp").as("last_upd_at"))
        val incoming = MergeOps.latestByKey(ev, Seq("user_id"), Seq(col("ts"), col("event_id")))
          .select(col("user_id"), col("event_type"), col("value"),
            lit(null).cast("timestamp").as("loaded_at"),
            lit(null).cast("timestamp").as("last_upd_at"))
        MergeOps.conditionalUpsert(oldSnap, incoming,
          pk = Seq("user_id"), tracked = Seq("event_type", "value"),
          runTs = lit(RunTs).cast("timestamp"))
          .select(col("user_id"), col("event_type"), col("value"),
            epochS(col("loaded_at")).as("loaded_epoch"),
            epochS(col("last_upd_at")).as("upd_epoch"))
      },
      Some(s"""WITH o AS (SELECT user_id, event_type, value FROM (
             |    SELECT user_id, event_type, value,
             |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             |    FROM events WHERE ts < TIMESTAMP '$CutoffTs') t WHERE rn = 1),
             |n AS (SELECT user_id, event_type, value FROM (
             |    SELECT user_id, event_type, value,
             |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             |    FROM events) t WHERE rn = 1)
             |SELECT coalesce(n.user_id, o.user_id) AS user_id,
             |  CASE WHEN o.user_id IS NULL OR (n.user_id IS NOT NULL
             |         AND (o.event_type IS DISTINCT FROM n.event_type OR o.value IS DISTINCT FROM n.value))
             |       THEN n.event_type ELSE o.event_type END AS event_type,
             |  CASE WHEN o.user_id IS NULL OR (n.user_id IS NOT NULL
             |         AND (o.event_type IS DISTINCT FROM n.event_type OR o.value IS DISTINCT FROM n.value))
             |       THEN n.value ELSE o.value END AS value,
             |  CASE WHEN o.user_id IS NULL THEN $RunEpoch ELSE $CutoffEpoch END AS loaded_epoch,
             |  CASE WHEN o.user_id IS NULL OR (n.user_id IS NOT NULL
             |         AND (o.event_type IS DISTINCT FROM n.event_type OR o.value IS DISTINCT FROM n.value))
             |       THEN $RunEpoch ELSE $CutoffEpoch END AS upd_epoch
             |FROM o FULL JOIN n ON o.user_id = n.user_id""".stripMargin)),

    // M1 at scale — the SAME upsert as m1, but through the partition-pruned
    // write path (MergeOps.prunedConditionalUpsert, VERDICT r6 item 1):
    // the table is PK-hash bucketed, the bootstrap load commits v0, the
    // incremental load reads back ONLY the buckets containing incoming
    // keys and rewrites ONLY those — every untouched bucket carries
    // forward by manifest reference, bytes unmoved (byte-identity asserted
    // in PartitionedStorageSpec). Result hash-equals m1's oracle: the
    // pruned path changes write amplification, not semantics.
    Q("m1b_partitioned_upsert",
      (s, d) => withTwoLoadUpsert(s, d) { (table, _, _) =>
        upsertStateCols(
          graft.ops.Storage.readPartitionedVersion(s, table).drop("pbucket"))
      },
      Some(UpsertStateOracle)),

    // Delta interop × pruned writes — the SHALLOW-CLONE read driver-checked:
    // the same two incremental loads as m1b, but the final state is read
    // back EXACTLY as an external Delta engine would, from the latest
    // version's `_delta_log` alone. That log mixes relative adds (the
    // buckets load 2 rewrote) with ABSOLUTE adds pointing into v0 (the
    // carried buckets), and the partition column is reconstructed from
    // each add's partitionValues — hash-matching m1b's oracle proves the
    // carry chain end-to-end through the driver gate, not just the spec.
    Q("io2_delta_shallow_clone",
      (s, d) => withTwoLoadUpsert(s, d) { (table, _, v1) =>
        upsertStateCols(
          graft.ops.DeltaInterop.readSnapshot(s, table.resolve(s"v$v1"))
            .drop("pbucket"))
      },
      Some(UpsertStateOracle)),

    // CDF generation — table_changes(fromV, toV) computed AFTER the fact
    // from two committed versions, the inverse of m6's changelog APPLY.
    // The scale story is the pruning: partitionsChangedBetween diffs the
    // two partition manifests (metadata-only); carried-by-reference buckets
    // are byte-identical by construction, so only rewritten buckets are
    // scanned from either snapshot — a load that touched 3 of 16 buckets
    // diffs 3 buckets twice, never the table. Oracle = the relational diff
    // of the two upsert states (insert/update only: upsert loads never
    // delete; the delete branch is spec-covered in CdfSpec).
    Q("m8_change_data_feed",
      (s, d) => withTwoLoadUpsert(s, d) { (table, v0, v1) =>
        graft.ops.Cdc.changeDataFeed(s, table, v0, v1,
          pk = Seq("user_id"), compareCols = Seq("event_type", "value"))
      },
      Some(s"""WITH o AS (SELECT user_id, event_type, value FROM (
             |    SELECT user_id, event_type, value,
             |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             |    FROM events WHERE ts < TIMESTAMP '$CutoffTs') t WHERE rn = 1),
             |n AS (SELECT user_id, event_type, value FROM (
             |    SELECT user_id, event_type, value,
             |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             |    FROM events) t WHERE rn = 1)
             |SELECT n.user_id AS user_id, n.event_type AS event_type, n.value AS value,
             |       CASE WHEN o.user_id IS NULL THEN 'insert' ELSE 'update' END AS change_type
             |FROM n LEFT JOIN o ON o.user_id = n.user_id
             |WHERE o.user_id IS NULL
             |   OR o.event_type IS DISTINCT FROM n.event_type
             |   OR o.value IS DISTINCT FROM n.value""".stripMargin)),

    // Time travel on the partition-manifested table, driver-checked: after
    // the incremental load commits v1, the state AS OF v0 (the bootstrap)
    // still reads exactly — the manifest at v0 names its owning versions
    // and vacuum keeps referenced versions, so history is a metadata
    // lookup, not a restore. Oracle = the pre-cutoff relational state.
    Q("io3_time_travel",
      (s, d) => withTwoLoadUpsert(s, d) { (table, v0, _) =>
        upsertStateCols(
          graft.ops.Storage.readPartitionedVersionAt(s, table, v0)
            .drop("pbucket"))
      },
      Some(s"""SELECT user_id, event_type, value,
             |       $CutoffEpoch AS loaded_epoch, $CutoffEpoch AS upd_epoch
             |FROM (SELECT user_id, event_type, value,
             |        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             |      FROM events WHERE ts < TIMESTAMP '$CutoffTs') t
             |WHERE rn = 1""".stripMargin)),

    // Operator-level schema evolution (round 13): the SECOND load's feed
    // ADDS a tracked column. Stored rows predate it and null-fill into
    // the change probe, so null-vs-value IS a change: every key the
    // evolving load carries gets the column materialized, the commit
    // declares the appended column, and buckets the load does not touch
    // carry by reference reading null (the subtler carried-bucket and
    // idempotent-redelivery cases are MergeSpec-proven; with a full-
    // snapshot load 2 the oracle is the plain relational recompute —
    // every pre-existing row changes, keeping its loaded_at and bumping
    // last_upd_at).
    Q("m14_upsert_evolution",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("upsert_evo")
        val table = dir.resolve("stg_events")
        try {
          val base = Tables.events(s, d)
            .select(col("user_id"), col("event_type"), col("value"),
              col("ts").cast("timestamp").as("ts"), col("event_id"))
          def snap(pred: org.apache.spark.sql.Column) =
            MergeOps.latestByKey(base.filter(pred), Seq("user_id"),
                Seq(col("ts"), col("event_id")))
              .select(col("user_id"), col("event_type"), col("value"))
          def withAudit(df: DataFrame) = df
            .withColumn("loaded_at", lit(null).cast("timestamp"))
            .withColumn("last_upd_at", lit(null).cast("timestamp"))
          MergeOps.prunedConditionalUpsert(table,
            withAudit(snap(col("ts") < lit(CutoffTs).cast("timestamp"))),
            pk = Seq("user_id"), tracked = Seq("event_type", "value"),
            runTs = lit(CutoffTs).cast("timestamp"), nParts = 16, keepVersions = 4)
          MergeOps.prunedConditionalUpsert(table,
            withAudit(snap(lit(true))
              .withColumn("etype_len", length(col("event_type")).cast("long"))),
            pk = Seq("user_id"),
            tracked = Seq("event_type", "value", "etype_len"),
            runTs = lit(RunTs).cast("timestamp"), nParts = 16, keepVersions = 4)
          graft.ops.Storage.readPartitionedVersion(s, table)
            .select(col("user_id"), col("event_type"), col("value"),
              col("etype_len"),
              epochS(col("loaded_at")).as("loaded_epoch"),
              epochS(col("last_upd_at")).as("upd_epoch"))
            .localCheckpoint()
        } finally graft.ops.Storage.deleteRecursively(dir)
      },
      Some(s"""WITH latest AS (SELECT user_id, event_type, value FROM (
             |    SELECT user_id, event_type, value,
             |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             |    FROM events) t WHERE rn = 1),
             |pre AS (SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '$CutoffTs')
             |SELECT l.user_id, l.event_type, l.value,
             |       CAST(length(l.event_type) AS BIGINT) AS etype_len,
             |       CASE WHEN p.user_id IS NOT NULL THEN $CutoffEpoch
             |            ELSE $RunEpoch END AS loaded_epoch,
             |       $RunEpoch AS upd_epoch
             |FROM latest l LEFT JOIN pre p ON p.user_id = l.user_id""".stripMargin)),

    // TTL partition retention (round 13): events land in day-partitioned
    // buckets (`pday=` = epoch-day), and the daily retention job DROPS
    // the aged buckets in one metadata commit — zero data reads or
    // writes, O(dropped) manifest entries (the 100 TB expiry shape; a
    // spec corrupts the doomed buckets' bytes to prove they are never
    // opened). The read after expiry must hash-match the oracle's
    // relational cutoff; history still serves the expired days until
    // vacuum, and the change feed shows them as ordinary deletes.
    Q("ttl1_partition_retention",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("ttl1")
        val table = dir.resolve("events_by_day")
        try {
          val ev = Tables.events(s, d)
            .select(col("event_id"), col("user_id"),
              epochS(col("ts")).as("es"), col("event_type"))
            .withColumn("pday", floor(col("es") / 86400L))
          graft.ops.Storage.commitPartitions(ev, table, "pday", keepVersions = 2)
          graft.ops.Storage.expireParts(s, table,
            keep = p => p.stripPrefix("pday=").toLong >= 19738L, keepVersions = 2)
          graft.ops.Storage.readPartitionedVersion(s, table)
            .select(col("event_id"), col("user_id"), col("es"),
              col("event_type"), col("pday"))
            .localCheckpoint()
        } finally graft.ops.Storage.deleteRecursively(dir)
      },
      Some(s"""SELECT event_id, user_id, es, event_type, es // 86400 AS pday
             |FROM (SELECT event_id, user_id, ${epochSql("ts")} AS es, event_type
             |      FROM events) t
             |WHERE es // 86400 >= 19738""".stripMargin)),

    // ENFORCED constraints (round 13; single-scan since round 15): the
    // write-time half of quality1's audit — NOT NULL + named CHECKs ride
    // the batch's ONE materializing pass as Observation metrics, the
    // unique-key probe runs against the materialized blocks, and a
    // violating batch throws BEFORE the commit, so the table's invariants
    // hold by construction and a non-deterministic source can never pass
    // validation with one set of rows yet commit another
    // (QualityEnforceSpec proves the single scan with an accumulator).
    // This row commits the clean snapshot, then proves a dirty batch
    // (null keys, a duplicate PK, a non-positive total) is REJECTED and
    // the table still serves the clean state — the rejected_dirty flag
    // rides in the output so the hash check covers the refusal, not just
    // the happy path.
    Q("quality2_enforced_commit",
      (s, d) => {
        import graft.ops.Quality
        val dir = java.nio.file.Files.createTempDirectory("enforce")
        val table = dir.resolve("orders")
        try {
          val o = Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          def commitChecked(df: DataFrame): Long = Quality.enforcedCommit(df, table,
            notNull = Seq("o_custkey"),
            checks = Map("positive_total" -> (col("o_totalprice") > 0)),
            uniqueKey = Seq("o_orderkey"))
          commitChecked(o)
          val dirty = o.limit(3)
            .withColumn("o_custkey", lit(null).cast("long"))
            .unionByName(o.limit(1).withColumn("o_totalprice", lit(-1.0)))
          val rejected =
            try { commitChecked(dirty); false }
            catch { case _: Quality.ConstraintViolation => true }
          graft.ops.Storage.readVersion(s, table)
            .withColumn("rejected_dirty", lit(rejected))
            .localCheckpoint()
        } finally graft.ops.Storage.deleteRecursively(dir)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, TRUE AS rejected_dirty
             |FROM orders""".stripMargin)),

    // ENFORCED FOREIGN KEYS (round 15): the reference declares FKs on
    // both facts (configure.py:344-354, :371-377) and Postgres enforces
    // them at write time; the audit half (quality1) only detects orphans
    // after the fact. This row closes the gap: a batch commits ONLY if
    // every non-null child key anti-join-resolves into the parent — the
    // clean orders batch lands, an orphan-SK batch (custkeys displaced
    // past the customer domain) throws pre-commit, and the table still
    // serves the clean state. The FK probe is one key-shuffle against
    // the parent's key column (broadcast under AQE when the parent is a
    // dimension) on the ALREADY-materialized batch — no extra source scan.
    Q("quality3_enforced_fk",
      (s, d) => {
        import graft.ops.Quality
        val dir = java.nio.file.Files.createTempDirectory("enforce_fk")
        val table = dir.resolve("orders")
        try {
          val cust = Tables.customer(s, d).select(col("c_custkey"))
          val o = Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          def commitChecked(df: DataFrame): Long = Quality.enforcedCommit(df, table,
            notNull = Seq("o_custkey"),
            foreignKeys = Seq(
              Quality.ForeignKey("orders_customer", "o_custkey", cust, "c_custkey")))
          commitChecked(o) // TPC-H guarantees every o_custkey resolves
          val orphans = o.limit(5)
            .withColumn("o_custkey", col("o_custkey") + lit(100000000L))
          val rejected =
            try { commitChecked(orphans); false }
            catch { case _: Quality.ConstraintViolation => true }
          graft.ops.Storage.readVersion(s, table)
            .withColumn("rejected_orphans", lit(rejected))
            .localCheckpoint()
        } finally graft.ops.Storage.deleteRecursively(dir)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, TRUE AS rejected_orphans
             |FROM orders""".stripMargin)),

    // DESCRIBE HISTORY (round 13), driver-checked: the table's retained
    // commit ledger computed ENTIRELY from metadata — version dirs,
    // manifests, per-version log stats; zero data reads (MetaAggSpec
    // proves the ledger's own/carried/tombstone columns; this row
    // hash-checks the per-version VISIBLE row counts, which the oracle
    // recomputes relationally for both load generations). The DV-aware
    // count is exact: numRecords is physical, each add's deletionVector
    // descriptor carries its cardinality.
    Q("hist1_table_history",
      (s, d) => withTwoLoadUpsert(s, d) { (table, _, _) =>
        graft.ops.MetaAgg.history(s, table)
          .select(col("version"), col("kind"), col("row_cnt"))
          .localCheckpoint()
      },
      Some(s"""SELECT CAST(0 AS BIGINT) AS version, 'partitioned' AS kind,
             |  (SELECT count(DISTINCT user_id) FROM events
             |   WHERE ts < TIMESTAMP '$CutoffTs') AS row_cnt
             |UNION ALL
             |SELECT CAST(1 AS BIGINT), 'partitioned',
             |  (SELECT count(DISTINCT user_id) FROM events)""".stripMargin)),

    // RESTORE (round 13), driver-checked: after the incremental load
    // commits v1, roll the table BACK to v0 as a new commit — metadata
    // only, the restored manifest re-pins v0's owning versions and not a
    // byte of data moves (RestoreSpec asserts the restore version holds
    // zero partition dirs; this row proves the STATE through the normal
    // current-read path and io3's oracle). The fat-finger recovery a
    // petabyte table can afford: O(partitions) manifest metadata, with
    // history, change feed, geometry, and deletion vectors all coherent
    // across the rollback.
    Q("m13_restore",
      (s, d) => withTwoLoadUpsert(s, d) { (table, v0, _) =>
        graft.ops.Storage.restore(s, table, v0, keepVersions = 4)
        upsertStateCols(
          graft.ops.Storage.readPartitionedVersion(s, table).drop("pbucket"))
      },
      Some(s"""SELECT user_id, event_type, value,
             |       $CutoffEpoch AS loaded_epoch, $CutoffEpoch AS upd_epoch
             |FROM (SELECT user_id, event_type, value,
             |        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             |      FROM events WHERE ts < TIMESTAMP '$CutoffTs') t
             |WHERE rn = 1""".stripMargin)),

    // Table-level Delta log + protocol checkpoint, driver-checked: twelve
    // full-replace commits of a growing aggregate cross CheckpointInterval
    // (10), then the final state is read back the way an external engine
    // follows a LIVE table — `_last_checkpoint` → ONE checkpoint parquet →
    // trailing JSON commits only — O(trailing) per read, never O(history)
    // replay (DeltaInteropSpec proves pre-checkpoint JSONs are never even
    // opened by corrupting them). Slice 12 covers every event, so the
    // final committed aggregate hash-matches the plain recompute oracle.
    Q("io4_delta_checkpoint_read",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("iockpt")
        val table = dir.resolve("agg")
        try {
          val ev = Tables.events(s, d)
            .select(col("event_type"), col("value"),
              pmod(col("event_id"), lit(12L)).as("slice"))
            .localCheckpoint()
          (0 until 12).foreach { k =>
            graft.ops.Storage.commitVersion(
              ev.filter(col("slice") <= k)
                .groupBy(col("event_type"))
                .agg(count(lit(1)).as("cnt"),
                  sum(col("value").cast("decimal(38,6)")).as("sum_value")),
              table)
          }
          graft.ops.DeltaInterop.readTableSnapshot(s, table)
            .select(col("event_type"), col("cnt"),
              col("sum_value").cast("double").as("sum_value"))
            .localCheckpoint()
        } finally graft.ops.Storage.deleteRecursively(dir)
      },
      Some("""SELECT event_type, count(*) AS cnt,
             |       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY event_type""".stripMargin)),

    // Merge-on-read deletes THROUGH the external-reader path (round 12):
    // a deleteWithVectors takedown commits the Delta protocol's
    // `add.deletionVector` descriptors (inline Z85 Roaring bitmaps,
    // graft.ops.DeltaDv) with ZERO data rewrites, and the row reads the
    // final state back the way an external Delta engine would —
    // replaying the TABLE-LEVEL `_delta_log` alone (checkpoint + trailing
    // commits; no graft manifest, no per-version log) and subtracting the
    // descriptors. The oracle recomputes the post-delete state
    // relationally, so the hash match proves descriptor emission,
    // protocol-feature gating, and log-only DV application end-to-end at
    // the gate, every round — not just in DeltaInteropSpec.
    // Multi-table snapshot transactions (round 13): two marts derived from
    // orders and customer refresh in ONE workspace transaction — the
    // manifest create is the atomic commit point, so a cross-mart join
    // sees generation 1 of BOTH or generation 2 of BOTH, never a mix
    // (atomicity, crash, and CAS semantics spec-proven in WorkspaceSpec).
    // This row drives TWO transactions and then reads the joined pair AS
    // OF each manifest — workspace-level time travel — hash-matching an
    // oracle that recomputes both generations relationally. Commit cost is
    // O(tables) metadata on top of the table writes themselves; at 100 TB
    // the "refresh five marts consistently" story costs five table commits
    // plus ONE small-file CAS, not a distributed lock.
    Q("txn1_workspace_snapshot",
      (s, d) => {
        import graft.ops.Workspace
        val ws = java.nio.file.Files.createTempDirectory("ws_txn1")
        try {
          val cust = Tables.customer(s, d)
          def mart1(filtered: DataFrame): DataFrame = filtered
            .groupBy(col("o_custkey"))
            .agg(count(lit(1)).as("cnt"),
              sum(col("o_totalprice").cast("decimal(38,6)")).as("total"))
          def mart2(bump: Double): DataFrame = cust
            .select(col("c_custkey"), col("c_name"),
              (col("c_acctbal") + lit(bump)).as("acctbal"))
          val orders = Tables.orders(s, d)
          val m1 = Workspace.commitAll(ws, Map(
            "orders_by_cust" -> mart1(orders.filter(col("o_orderkey") % 3 =!= 0)),
            "cust_dim" -> mart2(0.0)), keepVersions = 4)
          val m2 = Workspace.commitAll(ws, Map(
            "orders_by_cust" -> mart1(orders),
            "cust_dim" -> mart2(100.0)), keepVersions = 4)
          def joined(m: Long, label: Int): DataFrame = {
            val pins = Workspace.snapshotAt(ws, m)
            Workspace.readPinned(s, ws, "orders_by_cust", pins("orders_by_cust"))
              .join(Workspace.readPinned(s, ws, "cust_dim", pins("cust_dim")),
                col("o_custkey") === col("c_custkey"))
              .select(lit(label).as("asof"), col("c_custkey"), col("c_name"),
                col("acctbal").cast("double").as("acctbal"),
                col("cnt"), col("total").cast("double").as("total"))
          }
          joined(m1, 1).unionByName(joined(m2, 2)).localCheckpoint()
        } finally graft.ops.Storage.deleteRecursively(ws)
      },
      Some("""WITH g1 AS (SELECT o_custkey, count(*) AS cnt,
             |              CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
             |            FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY 1),
             |     g2 AS (SELECT o_custkey, count(*) AS cnt,
             |              CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
             |            FROM orders GROUP BY 1)
             |SELECT 1 AS asof, c.c_custkey, c.c_name,
             |       CAST(c.c_acctbal + 0.0 AS DOUBLE) AS acctbal, g1.cnt, g1.total
             |FROM customer c JOIN g1 ON g1.o_custkey = c.c_custkey
             |UNION ALL
             |SELECT 2 AS asof, c.c_custkey, c.c_name,
             |       CAST(c.c_acctbal + 100.0 AS DOUBLE) AS acctbal, g2.cnt, g2.total
             |FROM customer c JOIN g2 ON g2.o_custkey = c.c_custkey""".stripMargin)),

    // Whole-warehouse RESTORE drill (round 15): generation 2 of a two-mart
    // workspace turns out to be a bad load — restoreTo republishes the
    // generation-1 pins as a NEW manifest (every table rolls back in ONE
    // atomic metadata publish, zero data movement), the pipeline then
    // makes FORWARD progress on the restored base, and the rolled-back
    // generation stays coherently readable for the post-mortem. The row
    // reads the post-restore+forward CURRENT view and the rolled-back
    // generation-2 view through the same pinned-join path and hash-matches
    // both against a relational recompute — restore correctness, history
    // preservation, and forward-commit-after-restore proven at the gate
    // (CAS/crash details in WorkspaceSpec). At 100 TB the fat-finger
    // recovery for a five-mart warehouse is five manifest entries, not a
    // restore-from-backup.
    Q("txn2_workspace_restore",
      (s, d) => {
        import graft.ops.Workspace
        val ws = java.nio.file.Files.createTempDirectory("ws_txn2")
        try {
          val orders = Tables.orders(s, d)
          val cust = Tables.customer(s, d)
          def martA(f: DataFrame): DataFrame =
            f.groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
          def martB(bump: Double): DataFrame = cust
            .select(col("c_custkey"), (col("c_acctbal") + lit(bump)).as("acctbal"))
          val m1 = Workspace.commitAll(ws, Map(
            "mart_a" -> martA(orders.filter(col("o_orderkey") % 3 =!= 0)),
            "mart_b" -> martB(0.0)), keepVersions = 8)
          val m2 = Workspace.commitAll(ws, Map(
            "mart_a" -> martA(orders),
            "mart_b" -> martB(100.0)), keepVersions = 8)
          Workspace.restoreTo(ws, m1) // generation 2 was the bad load
          val m4 = Workspace.commitAll(ws, Map("mart_b" -> martB(500.0)),
            keepVersions = 8) // forward progress on the restored base
          def view(m: Long, label: Int): DataFrame = {
            val pins = Workspace.snapshotAt(ws, m)
            Workspace.readPinned(s, ws, "mart_a", pins("mart_a"))
              .join(Workspace.readPinned(s, ws, "mart_b", pins("mart_b")),
                col("o_custkey") === col("c_custkey"))
              .select(lit(label).as("asof"), col("c_custkey"),
                col("acctbal").cast("double").as("acctbal"), col("cnt"))
          }
          view(m4, 4).unionByName(view(m2, 2)).localCheckpoint()
        } finally graft.ops.Storage.deleteRecursively(ws)
      },
      Some("""WITH ga1 AS (SELECT o_custkey, count(*) AS cnt
             |             FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY 1),
             |     ga2 AS (SELECT o_custkey, count(*) AS cnt
             |             FROM orders GROUP BY 1)
             |SELECT 4 AS asof, c.c_custkey,
             |       CAST(c.c_acctbal + 500.0 AS DOUBLE) AS acctbal, ga1.cnt
             |FROM customer c JOIN ga1 ON ga1.o_custkey = c.c_custkey
             |UNION ALL
             |SELECT 2 AS asof, c.c_custkey,
             |       CAST(c.c_acctbal + 100.0 AS DOUBLE) AS acctbal, ga2.cnt
             |FROM customer c JOIN ga2 ON ga2.o_custkey = c.c_custkey""".stripMargin)),

    // Schema evolution with TYPE WIDENING (round 13): v0 lands half the
    // orders with NARROW types (int custkey, float totalprice); v1 lands
    // the other half — disjoint buckets, so v0's files carry by reference,
    // bytes unmoved — with WIDE types (long, double) plus a brand-new
    // column. The read composes both generations: narrow physical files
    // cast up to the declared wide schema, pre-evolution rows read NULL
    // for the new column — the Delta typeWidening + add-column semantics,
    // with the feature and per-field typeChanges metadata in the log
    // (spec-proven; this row hash-checks the VALUES against an oracle that
    // recomputes the same two-generation union relationally). At 100 TB
    // this is the only affordable schema change: evolving a petabyte table
    // must never rewrite it.
    Q("m12_type_widening",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("widen")
        val table = dir.resolve("orders_evolved")
        try {
          val o = Tables.orders(s, d)
          val bucket = pmod(col("o_orderkey"), lit(8)).cast("int")
          // generation 0: even orderkeys, narrow types
          graft.ops.Storage.commitPartitions(
            o.filter(col("o_orderkey") % 2 === 0)
              .select(col("o_orderkey"),
                col("o_custkey").cast("int").as("o_custkey"),
                col("o_totalprice").cast("float").as("o_totalprice"))
              .withColumn("pbucket", bucket),
            table, "pbucket", keepVersions = 4)
          // generation 1: odd orderkeys — widened types + a new column
          graft.ops.Storage.commitPartitions(
            o.filter(col("o_orderkey") % 2 === 1)
              .select(col("o_orderkey"),
                col("o_custkey").cast("long").as("o_custkey"),
                col("o_totalprice").cast("double").as("o_totalprice"),
                length(col("o_orderpriority")).cast("long").as("prio_len"))
              .withColumn("pbucket", bucket),
            table, "pbucket", keepVersions = 4)
          graft.ops.Storage.readPartitionedVersion(s, table)
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice"), col("prio_len"))
            .localCheckpoint()
        } finally graft.ops.Storage.deleteRecursively(dir)
      },
      Some("""SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey,
             |       CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS o_totalprice,
             |       CAST(NULL AS BIGINT) AS prio_len
             |FROM orders WHERE o_orderkey % 2 = 0
             |UNION ALL
             |SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey,
             |       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
             |       CAST(length(o_orderpriority) AS BIGINT) AS prio_len
             |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin)),

    // Metadata-only aggregates (round 13): COUNT/MIN/MAX answered from the
    // commit's per-file stats with ZERO data files opened, plus the hybrid
    // range COUNT that reads only the files straddling the predicate's
    // boundary (fully-covered files contribute numRecords − nullCount from
    // metadata). At 100 TB these are the catalog-lookup-speed answers to
    // "how many rows landed / what's the watermark" that would otherwise
    // full-scan. The no-data-read guarantee is spec-proven by corrupting
    // every non-boundary file (MetaAggSpec); THIS row proves exactness
    // against the oracle's real aggregation at the gate. The storage table
    // is range-clustered on l_orderkey, so the boundary set is O(1) files
    // per predicate edge — selectivity-independent scan cost, the z-order
    // promise completed for counting.
    Q("meta1_stats_agg",
      (s, d) => {
        import graft.ops.MetaAgg
        val dir = java.nio.file.Files.createTempDirectory("metaagg")
        val table = dir.resolve("li")
        try {
          graft.ops.Storage.commitVersion(
            Tables.lineitem(s, d)
              .select(col("l_orderkey"), col("l_extendedprice"))
              .repartitionByRange(8, col("l_orderkey")),
            table)
          def need[A](o: Option[A], what: String): A =
            o.getOrElse(sys.error(s"metadata path refused $what — gate row must not fall back"))
          val rows = need(MetaAgg.rowCount(table), "rowCount")
          val (_, minK, maxK) = need(MetaAgg.columnRange(table, "l_orderkey"), "l_orderkey range")
          val (_, minP, maxP) = need(MetaAgg.columnRange(table, "l_extendedprice"), "price range")
          val rangeCnt = MetaAgg.countWhere(s, table, "l_orderkey",
            BigDecimal(2500), BigDecimal(47500))
          import s.implicits._
          Seq((rows, minK.toLong, maxK.toLong, minP.toDouble, maxP.toDouble, rangeCnt))
            .toDF("row_cnt", "min_okey", "max_okey", "min_price", "max_price", "range_cnt")
        } finally graft.ops.Storage.deleteRecursively(dir)
      },
      Some("""SELECT (SELECT COUNT(*) FROM lineitem) AS row_cnt,
             |       (SELECT MIN(l_orderkey) FROM lineitem) AS min_okey,
             |       (SELECT MAX(l_orderkey) FROM lineitem) AS max_okey,
             |       (SELECT CAST(MIN(l_extendedprice) AS DOUBLE) FROM lineitem) AS min_price,
             |       (SELECT CAST(MAX(l_extendedprice) AS DOUBLE) FROM lineitem) AS max_price,
             |       (SELECT COUNT(*) FROM lineitem
             |        WHERE l_orderkey BETWEEN 2500 AND 47500) AS range_cnt""".stripMargin)),

    // Stats-pruned READ path (round 15) — meta1's completion: not just
    // counting from metadata, but handing Spark ONLY the files whose
    // [min, max] intersects the predicate before the scan starts. The
    // table is range-clustered on o_orderkey so each file owns a disjoint
    // key range; readPruned consults the commit's per-file stats and the
    // scan never opens the out-of-range files (MetaAggSpec proves that by
    // corrupting them; this row proves result-exactness at the gate —
    // oracle = the plain relational filter). At 100 TB on a z-ordered
    // layout this is the difference between touching O(selectivity) bytes
    // and touching the table: the pruning happens in the driver from
    // O(files) metadata, before a single task launches.
    Q("meta2_pruned_range_read",
      (s, d) => {
        import graft.ops.MetaAgg
        val dir = java.nio.file.Files.createTempDirectory("metapruned")
        val table = dir.resolve("orders")
        try {
          graft.ops.Storage.commitVersion(
            Tables.orders(s, d)
              .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
              .repartitionByRange(8, col("o_orderkey")),
            table)
          // readPruned hands the scan fewer files; the caller still owns
          // its predicate (files straddle boundaries) — same contract as
          // partition pruning
          MetaAgg.readPruned(s, table, "o_orderkey",
              BigDecimal(1000), BigDecimal(4000))
            .filter(col("o_orderkey").between(1000, 4000))
            .localCheckpoint()
        } finally graft.ops.Storage.deleteRecursively(dir)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
             |FROM orders WHERE o_orderkey BETWEEN 1000 AND 4000""".stripMargin)),

    // Shallow CLONE — the zero-copy dev/test branch a 100 TB table can
    // afford: dst v0 is a METADATA-ONLY commit whose Delta log references
    // the source's files by absolute URI (the protocol's shallow-clone
    // shape); the branch then diverges copy-on-first-write. The row
    // proves all three states relationally: the live source ('main'), the
    // clone's un-rewritten snapshot read THROUGH the metadata-only path
    // ('snap'), and the diverged branch ('dev') — plus a structural
    // require that v0 holds zero data bytes. Pin lifecycle, DV carry, and
    // materialization are CloneSpec-covered.
    Q("clone1_shallow_clone",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("clone1")
        val src = dir.resolve("src")
        val dst = dir.resolve("branch")
        try {
          graft.ops.Storage.commitVersion(
            Tables.orders(s, d)
              .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
            src, keepVersions = 2)
          graft.ops.Storage.cloneTable(s, src, dst, keepVersions = 2)
          // structural proof: the clone commit moved no data bytes
          val walk = java.nio.file.Files.walk(dst.resolve("v0"))
          val dataless =
            try walk.noneMatch(p => p.getFileName.toString.endsWith(".parquet"))
            finally walk.close()
          require(dataless, "shallow clone v0 must hold no data files")
          // diverge the branch: its first own commit drops all src refs
          graft.ops.Storage.commitVersion(
            graft.ops.Storage.readVersion(s, dst)
              .filter(col("o_totalprice") > 200000), dst, keepVersions = 2)
          val main = graft.ops.Storage.readVersion(s, src)
            .withColumn("branch", lit("main"))
          val snap = graft.ops.Storage.readVersionAt(s, dst, 0)
            .withColumn("branch", lit("snap"))
          val dev = graft.ops.Storage.readVersion(s, dst)
            .withColumn("branch", lit("dev"))
          main.unionByName(snap).unionByName(dev).localCheckpoint()
        } finally graft.ops.Storage.deleteRecursively(dir)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, 'main' AS branch FROM orders
             |UNION ALL
             |SELECT o_orderkey, o_custkey, o_totalprice, 'snap' AS branch FROM orders
             |UNION ALL
             |SELECT o_orderkey, o_custkey, o_totalprice, 'dev' AS branch FROM orders
             |WHERE o_totalprice > 200000""".stripMargin)),

    // Transparent materialized-view rewrite — the datamart layer the
    // reference creates but never fills (configure.py:46-52), closed the
    // warehouse way: an ad-hoc aggregate over the BASE re-plans onto the
    // maintained per-(event_type, user_id) aggregate table (key-filter +
    // rollup from partials), so at 100 TB a full scan + shuffle becomes a
    // read of a few thousand pre-aggregated rows. The row REQUIREs the
    // optimized plan to scan the view and not the base — a silent
    // fallback (still correct, never fast) fails loudly. Guards and
    // fallback shapes are MatViewSpec-covered.
    Q("mv1_transparent_rewrite",
      (s, d) => {
        import graft.plans.{MatView, MatViewRewrite}
        val dir = java.nio.file.Files.createTempDirectory("mv1")
        val base = dir.resolve("base")
        val view = dir.resolve("view")
        try {
          graft.ops.Storage.commitVersion(
            Tables.events(s, d).select(col("event_type"), col("user_id"),
              col("value").cast("decimal(38,6)").as("value")), base)
          graft.ops.Storage.commitVersion(
            graft.ops.Storage.readVersion(s, base)
              .groupBy("event_type", "user_id")
              .agg(count(lit(1)).as("count_rows"), sum("value").as("sum_value"),
                min("value").as("min_value"), max("value").as("max_value")),
            view)
          MatView.register(MatView.Def(
            name = "mv1", baseRoots = () => Set(MatView.root(base.resolve("v0"))),
            view = () => graft.ops.Storage.readVersion(s, view),
            keys = Seq("event_type", "user_id"), countCol = Some("count_rows"),
            sums = Map("value" -> "sum_value"), mins = Map("value" -> "min_value"),
            maxs = Map("value" -> "max_value")))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewRewrite
          try {
            val q = graft.ops.Storage.readVersion(s, base)
              .filter(col("user_id").between(1, 8000))
              .groupBy(col("event_type"))
              .agg(count(lit(1)).as("cnt"), sum("value").as("sv"),
                min("value").as("mnv"), max("value").as("mxv"))
              .select(col("event_type"), col("cnt"),
                col("sv").cast("double").as("sum_value"),
                col("mnv").cast("double").as("min_value"),
                col("mxv").cast("double").as("max_value"),
                // ratio-of-aggregates: SUM/COUNT composed in one output
                // slot — the expression-tree rewrite path (each aggregate
                // leaf re-aggregates a partial; the divide rides on top)
                (col("sv").cast("double") / col("cnt")).as("avg_ratio"))
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(_.contains(base.toString)),
              s"aggregate was not rewritten onto the materialized view: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewRewrite)
            MatView.drop("mv1")
          }
        } finally graft.ops.Storage.deleteRecursively(dir)
      },
      Some("""SELECT event_type, count(*) AS cnt,
             |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
             |  CAST(min(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS min_value,
             |  CAST(max(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS max_value,
             |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_ratio
             |FROM events WHERE user_id BETWEEN 1 AND 8000
             |GROUP BY event_type""".stripMargin)),

    // ROLLUP navigation: the BI-tool shape (GROUP BY ROLLUP over the base)
    // re-plans onto the SAME per-(event_type, user_id) view — the rewrite
    // keeps the Aggregate-over-Expand mechanics (null placeholders +
    // spark_grouping_id) and swaps the Expand's child for the view, so
    // every grouping set re-aggregates |keys| partial rows instead of the
    // base. The row REQUIREs the view scan; correctness rides the DuckDB
    // ROLLUP oracle (placeholder rows included).
    Q("mv4_rollup_navigation",
      (s, d) => {
        import graft.plans.{MatView, MatViewRewrite}
        val dir = java.nio.file.Files.createTempDirectory("mv4")
        val base = dir.resolve("base")
        val view = dir.resolve("view")
        try {
          graft.ops.Storage.commitVersion(
            Tables.events(s, d).select(col("event_type"), col("user_id"),
              col("value").cast("decimal(38,6)").as("value")), base)
          graft.ops.Storage.commitVersion(
            graft.ops.Storage.readVersion(s, base)
              .groupBy("event_type", "user_id")
              .agg(count(lit(1)).as("count_rows"), sum("value").as("sum_value"),
                min("value").as("min_value"), max("value").as("max_value")),
            view)
          MatView.register(MatView.Def(
            name = "mv4", baseRoots = () => Set(MatView.root(base.resolve("v0"))),
            view = () => graft.ops.Storage.readVersion(s, view),
            keys = Seq("event_type", "user_id"), countCol = Some("count_rows"),
            sums = Map("value" -> "sum_value"), mins = Map("value" -> "min_value"),
            maxs = Map("value" -> "max_value")))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewRewrite
          try {
            val q = graft.ops.Storage.readVersion(s, base)
              .filter(col("user_id").between(1, 2000))
              .rollup(col("event_type"), col("user_id"))
              .agg(count(lit(1)).as("cnt"), sum("value").as("sv"),
                min("value").as("mnv"), max("value").as("mxv"))
              .select(col("event_type"), col("user_id"), col("cnt"),
                col("sv").cast("double").as("sum_value"),
                col("mnv").cast("double").as("min_value"),
                col("mxv").cast("double").as("max_value"))
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(_.contains(base.toString)),
              s"rollup was not navigated onto the materialized view: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewRewrite)
            MatView.drop("mv4")
          }
        } finally graft.ops.Storage.deleteRecursively(dir)
      },
      Some("""SELECT event_type, user_id, count(*) AS cnt,
             |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
             |  CAST(min(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS min_value,
             |  CAST(max(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS max_value
             |FROM events WHERE user_id BETWEEN 1 AND 2000
             |GROUP BY ROLLUP (event_type, user_id)""".stripMargin)),

    // MV1's loop CLOSED END-TO-END over the incremental layout — the full
    // self-maintaining datamart: a partition-pruned upsert base (two
    // loads), its aggregate view bootstrapped and rolled forward by ONE
    // call per base commit (MatViews.maintain — CDF signed partials for
    // count/sum, flagged-group recompute for min/max under retraction,
    // `_APPLIED_BASE_V` marker riding each commit), compaction advancing
    // the marker through an empty feed, and MatViews.registerRewrite
    // wiring freshness + scan-root matching to the base's commits — so
    // the ad-hoc aggregate over readPartitionedVersion re-plans onto the
    // maintained view, min/max included. The row REQUIREs the view scan
    // in the optimized plan; lag/pruned-read fallback shapes are
    // MatViewSpec-covered, maintenance exactness is MatViewMaintainSpec.
    Q("mv2_maintained_rewrite",
      (s, d) => {
        import graft.plans.{MatView, MatViewRewrite}
        import graft.ops.{MatViews, MergeOps, Storage}
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
        val dir = java.nio.file.Files.createTempDirectory("mv2")
        val table = dir.resolve("base")
        val view = dir.resolve("view")
        try {
          val ev = Tables.events(s, d).withColumn("ts", col("ts").cast("timestamp"))
          // dval: integer-valued double with deterministic nulls — the
          // AVG/COUNT(col) rewrite column. Integer-valued keeps every
          // partial sum exact in IEEE doubles, so the view path, the base
          // scan, and the oracle agree bit-for-bit; the nulls make
          // COUNT(dval) ≠ COUNT(*) so the gate actually distinguishes the
          // non-null-count partial from count_rows.
          val dval = when(col("user_id") % 7 === 0, lit(null))
            .otherwise(floor(dec(col("value"))).cast("double"))
          val packed = MergeOps.latestSnapshots(
              ev.select(col("user_id"), col("event_type"), dec(col("value")).as("value"),
                dval.as("dval"), col("ts"), col("event_id")),
              pk = Seq("user_id"), versionCols = Seq(col("ts"), col("event_id")),
              snapshots = Seq("cur" -> lit(true),
                "pre" -> (col("ts") < lit(CutoffTs).cast("timestamp"))))
            .localCheckpoint()
          def load(c: String, ts: String) =
            MergeOps.prunedConditionalUpsert(table,
              packed.filter(col(c).isNotNull)
                .select(col("user_id"), col(s"$c.event_type").as("event_type"),
                  col(s"$c.value").as("value"), col(s"$c.dval").as("dval"),
                  lit(null).cast("timestamp").as("loaded_at"),
                  lit(null).cast("timestamp").as("last_upd_at")),
              pk = Seq("user_id"), tracked = Seq("event_type", "value", "dval"),
              runTs = lit(ts).cast("timestamp"), nParts = 16, keepVersions = 4)
          def maintain() = MatViews.maintain(s, table, view,
            pk = Seq("user_id"), keys = Seq("event_type"),
            sums = Map("value" -> "sum_value", "dval" -> "sum_dval"),
            mins = Map("value" -> "min_value"),
            maxs = Map("value" -> "max_value"),
            counts = Map("dval" -> "cnt_dval"), keepVersions = 2)
          load("pre", CutoffTs)
          maintain() // bootstrap (marker rides the commit)
          load("cur", RunTs)
          maintain() // CDF roll-forward; pre→cur value churn hits extremes
          // scheduled maintenance: compaction unifies bucket owners (the
          // rewrite's single-owner scan shape); its change feed is EMPTY,
          // so the marker advances through a no-op delta apply
          Storage.compact(s, table)
          maintain()
          MatViews.registerRewrite(s, "mv2", table, view,
            keys = Seq("event_type"),
            sums = Map("value" -> "sum_value", "dval" -> "sum_dval"),
            mins = Map("value" -> "min_value"),
            maxs = Map("value" -> "max_value"),
            counts = Map("dval" -> "cnt_dval"))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewRewrite
          try {
            val q = Storage.readPartitionedVersion(s, table)
              .groupBy(col("event_type"))
              .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv"),
                min(col("value")).as("mnv"), max(col("value")).as("mxv"),
                count(col("dval")).as("cnt_dval"),
                avg(col("dval")).as("avg_dval"))
              .select(col("event_type"), col("cnt"),
                col("sv").cast("double").as("sum_value"),
                col("mnv").cast("double").as("min_value"),
                col("mxv").cast("double").as("max_value"),
                col("cnt_dval"), col("avg_dval"))
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(_.contains(table.toString)),
              s"maintained aggregate was not rewritten onto the view: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewRewrite)
            MatView.drop("mv2")
          }
        } finally Storage.deleteRecursively(dir)
      },
      Some(s"""SELECT event_type, count(*) AS cnt,
             |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
             |  CAST(min(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS min_value,
             |  CAST(max(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS max_value,
             |  count(dval) AS cnt_dval, avg(dval) AS avg_dval
             |FROM (SELECT event_type, value,
             |        CASE WHEN user_id % 7 = 0 THEN NULL
             |             ELSE CAST(FLOOR(CAST(value AS DECIMAL(38,6))) AS DOUBLE) END AS dval,
             |        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             |      FROM events) t
             |WHERE rn = 1 GROUP BY event_type""".stripMargin),
      harness = true),

    // Aggregate NAVIGATION end-to-end: m11's fact⋈dim rollup served by a
    // MAINTAINED join view instead of the join. Same churn script as
    // withJoinViewTables (dim nation-skew + missing keys restored; fact
    // evens-only with price skew, then truth + a %13 takedown), but the
    // view rolls forward by MatViews.maintainJoin — bootstrap once, then
    // ONE interval where BOTH sides change (ΔA⋈B₁ ∪ A₀⋈ΔB with the
    // updates+inserts+deletes all in flight — the net-multiplicity
    // cancellation keeps the transient cross terms out of the extremes),
    // then a marker advance through both compactions' empty feeds.
    // registerJoinRewrite + MatViewJoinRewrite then re-plan the ad-hoc
    // Aggregate(Join) onto the view — the row REQUIREs the view scan and
    // that NEITHER base is scanned. At 100 TB: the query's giant shuffle
    // join becomes a read of 25 pre-joined rows, maintained for O(Δ) per
    // refresh. (Single-side rolls are MatViewJoinSpec-covered; merging
    // the two data intervals halves the fixture's maintenance replays.)
    Q("mv3_join_agg_navigation",
      (s, d) => {
        import graft.plans.{MatView, MatViewJoinRewrite}
        import graft.ops.{MatViews, MergeOps, Storage}
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
        val dir = java.nio.file.Files.createTempDirectory("mv3")
        val cust = dir.resolve("dim_customer")
        val ord = dir.resolve("fct_orders")
        val view = dir.resolve("view")
        try {
          val cTrue = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
          // churn on the RAW double, cast to decimal LAST — `dec + 42.0`
          // would silently widen the whole column back to double and trade
          // the exact decimal sums for fp drift. The fact universe is a
          // %3 slice: the row times the MAINTENANCE OPERATOR, and the
          // churned fixture loads dominated its harness cost at full SF
          // (every churn/interval/compaction shape is preserved; the rest
          // of the load surface is covered by m1b/io2/io3 and the specs).
          val oRaw = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")).filter(col("o_orderkey") % 3 === 0)
          val oTrue = oRaw.withColumn("o_totalprice", dec(col("o_totalprice")))
          def stamp(df: DataFrame) = df
            .withColumn("loaded_at", lit(null).cast("timestamp"))
            .withColumn("last_upd_at", lit(null).cast("timestamp"))
          def loadCust(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(cust, stamp(df),
              pk = Seq("c_custkey"), tracked = Seq("c_nationkey"),
              runTs = lit(ts).cast("timestamp"), nParts = 4, keepVersions = 4)
          def loadOrd(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(ord, stamp(df),
              pk = Seq("o_orderkey"), tracked = Seq("o_custkey", "o_totalprice"),
              runTs = lit(ts).cast("timestamp"), nParts = 4, keepVersions = 4)
          def maintain() = MatViews.maintainJoin(s, cust, ord, view,
            pkLeft = Seq("c_custkey"), pkRight = Seq("o_orderkey"),
            joinKeysLeft = Seq("c_custkey"), joinKeysRight = Seq("o_custkey"),
            keys = Seq("c_nationkey"),
            sums = Map("o_totalprice" -> "sum_rev"),
            counts = Map("o_totalprice" -> "cnt_rev"),
            mins = Map("o_totalprice" -> "min_rev"),
            maxs = Map("o_totalprice" -> "max_rev"), keepVersions = 2)
          loadCust(cTrue.filter(col("c_custkey") % 7 =!= 0)
            .withColumn("c_nationkey",
              when(col("c_custkey") % 10 === 0,
                ((col("c_nationkey") + 1) % 25).cast("int"))
                .otherwise(col("c_nationkey"))), CutoffTs)
          loadOrd(oRaw.filter(col("o_orderkey") % 2 === 0)
            .withColumn("o_totalprice",
              dec(when(col("o_orderkey") % 11 === 0, col("o_totalprice") + 42.0)
                .otherwise(col("o_totalprice")))), CutoffTs)
          maintain() // bootstrap at the churned pair
          loadCust(cTrue, RunTs)
          loadOrd(oTrue, RunTs)
          MergeOps.prunedDelete(ord,
            oTrue.select(col("o_orderkey")).filter(col("o_orderkey") % 13 === 0),
            pk = Seq("o_orderkey"), nParts = 4, keepVersions = 4)
          // BOTH sides roll in one interval: ΔA⋈B₁ ∪ A₀⋈ΔB. The REQUIRE
          // pins the row to the INCREMENTAL path: the %13 takedown deletes
          // extreme-holders, which only the roll flags for recompute — a
          // silent re-bootstrap (e.g. a vacuumed from-version) returns 0
          val rolled = maintain()
          require(rolled.recomputedGroups >= 1,
            "the takedown interval must roll incrementally and flag extremes")
          Storage.compact(s, cust)
          Storage.compact(s, ord)
          maintain() // owners unified; markers advance through empty feeds
          MatViews.registerJoinRewrite(s, "mv3", cust, ord, view,
            joinKeys = Seq("c_custkey" -> "o_custkey"), keys = Seq("c_nationkey"),
            sums = Map("o_totalprice" -> "sum_rev"),
            counts = Map("o_totalprice" -> "cnt_rev"),
            mins = Map("o_totalprice" -> "min_rev"),
            maxs = Map("o_totalprice" -> "max_rev"))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewJoinRewrite
          try {
            val q = Storage.readPartitionedVersion(s, cust)
              .join(Storage.readPartitionedVersion(s, ord),
                col("c_custkey") === col("o_custkey"))
              .groupBy(col("c_nationkey"))
              .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("sr"),
                count(col("o_totalprice")).as("cnt_rev"),
                min(col("o_totalprice")).as("mn"),
                max(col("o_totalprice")).as("mx"))
              .select(col("c_nationkey"), col("cnt"),
                col("sr").cast("double").as("sum_rev"), col("cnt_rev"),
                col("mn").cast("double").as("min_rev"),
                col("mx").cast("double").as("max_rev"))
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(p => p.contains(cust.toString) || p.contains(ord.toString)),
              s"join aggregate was not navigated onto the view: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewJoinRewrite)
            MatView.drop("mv3")
          }
        } finally Storage.deleteRecursively(dir)
      },
      Some("""SELECT c_nationkey, count(*) AS cnt,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_rev,
             |       count(o_totalprice) AS cnt_rev,
             |       CAST(min(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS min_rev,
             |       CAST(max(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS max_rev
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_orderkey % 3 = 0 AND o_orderkey % 13 <> 0
             |GROUP BY c_nationkey""".stripMargin),
      harness = true),

    // N-ary STAR navigation: the reference's richest fact resolves THREE
    // dimensions in one load (dwh_fact_charer_location.py:103-115, FKs at
    // configure.py:344-354); this is that shape's maintained-view closure.
    // orders ⋈ customer ⋈ nation rolls forward by MatViews.maintainStar —
    // bootstrap at a churned triple (nation missing every 5th member,
    // customer mis-bucketed, fact evens-only with price skew), then ONE
    // interval where BOTH dims change (the multi-term delta rule's cross
    // terms must cancel exactly — the net-multiplicity cancellation),
    // then the fact's truth + a %13 takedown, then three compactions whose
    // state-identical markers keep the catch-up feeds metadata-only.
    // registerStarRewrite + MatViewJoinRewrite then re-plan the ad-hoc
    // 3-way Aggregate(Join(Join)) onto the view — the row REQUIREs the
    // view scan and that NONE of the three bases is scanned. At 100 TB:
    // two giant shuffle joins become a read of 25 pre-aggregated rows.
    Q("mv5_star_navigation",
      (s, d) => {
        import graft.plans.{MatView, MatViewJoinRewrite}
        import graft.ops.{MatViews, MergeOps, Storage}
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
        val dir = java.nio.file.Files.createTempDirectory("mv5")
        val nat = dir.resolve("dim_nation")
        val cust = dir.resolve("dim_customer")
        val ord = dir.resolve("fct_orders")
        val view = dir.resolve("view")
        try {
          val nTrue = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
          val cTrue = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
          // %3 fact slice — same fixture-cost rationale as mv3
          val oRaw = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")).filter(col("o_orderkey") % 3 === 0)
          val oTrue = oRaw.withColumn("o_totalprice", dec(col("o_totalprice")))
          def stamp(df: DataFrame) = df
            .withColumn("loaded_at", lit(null).cast("timestamp"))
            .withColumn("last_upd_at", lit(null).cast("timestamp"))
          def loadNat(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(nat, stamp(df),
              pk = Seq("n_nationkey"), tracked = Seq("n_name"),
              runTs = lit(ts).cast("timestamp"), nParts = 4, keepVersions = 4)
          def loadCust(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(cust, stamp(df),
              pk = Seq("c_custkey"), tracked = Seq("c_nationkey"),
              runTs = lit(ts).cast("timestamp"), nParts = 4, keepVersions = 4)
          def loadOrd(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(ord, stamp(df),
              pk = Seq("o_orderkey"), tracked = Seq("o_custkey", "o_totalprice"),
              runTs = lit(ts).cast("timestamp"), nParts = 4, keepVersions = 4)
          val sides = Seq(MatViews.StarSide(ord, Seq("o_orderkey")),
            MatViews.StarSide(cust, Seq("c_custkey")),
            MatViews.StarSide(nat, Seq("n_nationkey")))
          val jks = Seq("o_custkey" -> "c_custkey", "c_nationkey" -> "n_nationkey")
          def maintain() = MatViews.maintainStar(s, sides, view,
            joinKeys = jks, keys = Seq("n_name"),
            sums = Map("o_totalprice" -> "sum_rev"),
            counts = Map("o_totalprice" -> "cnt_rev"),
            mins = Map("o_totalprice" -> "min_rev"),
            maxs = Map("o_totalprice" -> "max_rev"), keepVersions = 2)
          loadNat(nTrue.filter(col("n_nationkey") % 5 =!= 0), CutoffTs)
          loadCust(cTrue.filter(col("c_custkey") % 7 =!= 0)
            .withColumn("c_nationkey",
              when(col("c_custkey") % 10 === 0,
                ((col("c_nationkey") + 1) % 25).cast("int"))
                .otherwise(col("c_nationkey"))), CutoffTs)
          loadOrd(oRaw.filter(col("o_orderkey") % 2 === 0)
            .withColumn("o_totalprice",
              dec(when(col("o_orderkey") % 11 === 0, col("o_totalprice") + 42.0)
                .otherwise(col("o_totalprice")))), CutoffTs)
          maintain() // bootstrap at the churned triple
          loadNat(nTrue, RunTs)
          loadCust(cTrue, RunTs)
          maintain() // BOTH dims roll in one interval — cross terms cancel
          loadOrd(oTrue, RunTs)
          MergeOps.prunedDelete(ord,
            oTrue.select(col("o_orderkey")).filter(col("o_orderkey") % 13 === 0),
            pk = Seq("o_orderkey"), nParts = 4, keepVersions = 4)
          maintain() // fact-side roll: updates + inserts + deletes
          Storage.compact(s, nat)
          Storage.compact(s, cust)
          Storage.compact(s, ord)
          maintain() // owners unified; markers advance through empty feeds
          MatViews.registerStarRewrite(s, "mv5", Seq(ord, cust, nat), view,
            joinKeys = jks, keys = Seq("n_name"),
            sums = Map("o_totalprice" -> "sum_rev"),
            counts = Map("o_totalprice" -> "cnt_rev"),
            mins = Map("o_totalprice" -> "min_rev"),
            maxs = Map("o_totalprice" -> "max_rev"))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewJoinRewrite
          try {
            val q = Storage.readPartitionedVersion(s, ord)
              .join(Storage.readPartitionedVersion(s, cust),
                col("o_custkey") === col("c_custkey"))
              .join(Storage.readPartitionedVersion(s, nat),
                col("c_nationkey") === col("n_nationkey"))
              .groupBy(col("n_name"))
              .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("sr"),
                count(col("o_totalprice")).as("cnt_rev"),
                min(col("o_totalprice")).as("mn"),
                max(col("o_totalprice")).as("mx"))
              .select(col("n_name"), col("cnt"),
                col("sr").cast("double").as("sum_rev"), col("cnt_rev"),
                col("mn").cast("double").as("min_rev"),
                col("mx").cast("double").as("max_rev"))
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(p => p.contains(nat.toString) ||
                  p.contains(cust.toString) || p.contains(ord.toString)),
              s"star aggregate was not navigated onto the view: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewJoinRewrite)
            MatView.drop("mv5")
          }
        } finally Storage.deleteRecursively(dir)
      },
      Some("""SELECT n_name, count(*) AS cnt,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_rev,
             |       count(o_totalprice) AS cnt_rev,
             |       CAST(min(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS min_rev,
             |       CAST(max(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS max_rev
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |            JOIN nation ON c_nationkey = n_nationkey
             |WHERE o_orderkey % 3 = 0 AND o_orderkey % 13 <> 0
             |GROUP BY n_name""".stripMargin),
      harness = true),

    // KMV sketch NAVIGATION under CHURN, over STRING keys: the
    // distinct-count estimate served from a maintained sketch PARTIAL
    // (plans.KmvPartial — the k smallest distinct hashes per group,
    // stored as an array column; strings pre-hash through the
    // engine-portable md5-prefix long) instead of the base scan. The
    // view rolls through churned loads: renamed members retract hashes
    // that sit INSIDE stored sketches and deletes retract more, so the
    // conservative retraction flag (AggMaintain.kmvUncertain) forces the
    // per-group recompute path — the row REQUIREs recomputedGroups > 0
    // on the final roll. Union of k-min sets trimmed to k IS the k-min
    // set of the union, so the navigated estimate (plans.KmvMerge over
    // the partials) is bit-identical to running the sketch over the
    // base, and the oracle reproduces hash + estimator in SQL. At
    // 100 TB a distinct-URL dashboard reads |keys| sketch rows,
    // maintained for O(Δ + flagged groups) per refresh.
    Q("mv6_kmv_navigation",
      (s, d) => {
        import graft.plans.{KmvSketch, MatView, MatViewRewrite}
        import graft.ops.{MatViews, MergeOps, Storage}
        val dir = java.nio.file.Files.createTempDirectory("mv6")
        val base = dir.resolve("base")
        val view = dir.resolve("view")
        try {
          val cust = Tables.customer(s, d).select(col("c_custkey"),
            col("c_mktsegment"), col("c_name"))
          def load(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(base,
              df.select(col("c_custkey"), col("c_mktsegment"), col("c_name"),
                lit(null).cast("timestamp").as("loaded_at"),
                lit(null).cast("timestamp").as("last_upd_at")),
              pk = Seq("c_custkey"), tracked = Seq("c_mktsegment", "c_name"),
              runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
          def maintain() = MatViews.maintain(s, base, view,
            pk = Seq("c_custkey"), keys = Seq("c_mktsegment"),
            kmvs = Map("c_name" -> "kmv_names"), kmvK = 64, keepVersions = 2)
          // churned bootstrap: %7 missing, %3 names mangled — the truth
          // load then RETRACTS the mangled names (hashes inside the
          // stored sketches) and the delete retracts real members
          load(cust.filter(col("c_custkey") % 7 =!= 0)
            .withColumn("c_name",
              when(col("c_custkey") % 3 === 0, concat(lit("X-"), col("c_name")))
                .otherwise(col("c_name"))), CutoffTs)
          maintain()
          load(cust, RunTs)
          MergeOps.prunedDelete(base,
            cust.select(col("c_custkey")).filter(col("c_custkey") % 13 === 0),
            pk = Seq("c_custkey"), nParts = 8, keepVersions = 4)
          val rolled = maintain()
          require(rolled.recomputedGroups > 0,
            "the churn must force the sketch-retraction recompute path")
          Storage.compact(s, base)
          maintain() // owners unified; marker advances through the empty feed
          MatViews.registerRewrite(s, "mv6", base, view,
            keys = Seq("c_mktsegment"),
            kmvs = Map("c_name" -> "kmv_names"), kmvK = 64)
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewRewrite
          try {
            val q = Storage.readPartitionedVersion(s, base)
              .groupBy(col("c_mktsegment"))
              .agg(count(lit(1)).as("cnt"),
                KmvSketch.distinctEstimate(col("c_name"), 64)
                  .as("est_distinct_names"))
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(_.contains(base.toString)),
              s"sketch estimate was not navigated onto the view: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewRewrite)
            MatView.drop("mv6")
          }
        } finally Storage.deleteRecursively(dir)
      },
      Some("""WITH live AS (SELECT c_mktsegment, c_name FROM customer
             |    WHERE c_custkey % 13 <> 0),
             |h AS (SELECT DISTINCT c_mktsegment,
             |    ((CAST(CONCAT('0x', substring(md5(c_name), 1, 15)) AS BIGINT)
             |      % 2147483647 + 2147483647) % 2147483647
             |     * 1103515245 + 12345) % 2147483647 AS hv
             |  FROM live),
             |r AS (SELECT c_mktsegment, hv,
             |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY hv) AS rn,
             |    COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
             |  FROM h),
             |est AS (SELECT c_mktsegment,
             |    CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
             |         ELSE 63.0 / (CAST(hv AS DOUBLE) / 2147483647.0) END AS est_distinct_names
             |  FROM r WHERE rn = (CASE WHEN n < 64 THEN n ELSE 64 END)),
             |c AS (SELECT c_mktsegment, COUNT(*) AS cnt FROM live GROUP BY 1)
             |SELECT c_mktsegment, cnt, est_distinct_names
             |FROM c JOIN est USING (c_mktsegment)""".stripMargin),
      harness = true),

    // FILTERED (partial) materialized view, maintained end-to-end: the
    // view aggregates ONLY rows passing its predicate (value > 50 — a
    // MEASURE, not even a view column), the change feed applies the
    // predicate per image row so boundary crossings reduce to one-sided
    // inserts/deletes, and the rewrite navigates a query only when its
    // own filter CARRIES the view's conjunct (consumed on match; a query
    // without it falls back — the partial view lacks rows it needs). The
    // classic "hot slice" datamart: at 100 TB a last-quarter or
    // high-value view is a sliver of the base, maintained for O(Δ), and
    // every dashboard query that repeats the slice predicate reads
    // |keys| rows. The row REQUIREs the view scan.
    Q("mv7_filtered_view",
      (s, d) => {
        import graft.plans.{MatView, MatViewRewrite}
        import graft.ops.{MatViews, MergeOps, Storage}
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
        val dir = java.nio.file.Files.createTempDirectory("mv7")
        val table = dir.resolve("base")
        val view = dir.resolve("view")
        try {
          val pred = col("value") > 50
          val ev = Tables.events(s, d).select(col("event_id"),
            col("event_type"), col("value"))
          def load(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(table,
              df.select(col("event_id"), col("event_type"),
                dec(col("value")).as("value"),
                lit(null).cast("timestamp").as("loaded_at"),
                lit(null).cast("timestamp").as("last_upd_at")),
              pk = Seq("event_id"), tracked = Seq("event_type", "value"),
              runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
          def maintain() = MatViews.maintain(s, table, view,
            pk = Seq("event_id"), keys = Seq("event_type"),
            sums = Map("value" -> "sum_value"),
            mins = Map("value" -> "min_value"),
            maxs = Map("value" -> "max_value"),
            keepVersions = 2, filter = Some(pred))
          // churned bootstrap: %7 missing, %11 values shifted — the truth
          // load then moves rows ACROSS the predicate boundary both ways
          load(ev.filter(col("event_id") % 7 =!= 0)
            .withColumn("value",
              when(col("event_id") % 11 === 0, col("value") + 300.0)
                .otherwise(col("value"))), CutoffTs)
          maintain()
          load(ev, RunTs)
          maintain() // crossings feed as one-sided rows; extremes re-flag
          Storage.compact(s, table)
          maintain() // marker advances through the empty feed
          MatViews.registerRewrite(s, "mv7", table, view,
            keys = Seq("event_type"),
            sums = Map("value" -> "sum_value"),
            mins = Map("value" -> "min_value"),
            maxs = Map("value" -> "max_value"),
            where = Some(pred))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewRewrite
          try {
            val q = Storage.readPartitionedVersion(s, table)
              .filter(pred)
              .groupBy(col("event_type"))
              .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv"),
                min(col("value")).as("mnv"), max(col("value")).as("mxv"))
              .select(col("event_type"), col("cnt"),
                col("sv").cast("double").as("sum_value"),
                col("mnv").cast("double").as("min_value"),
                col("mxv").cast("double").as("max_value"))
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(_.contains(table.toString)),
              s"filtered aggregate was not navigated onto the partial view: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewRewrite)
            MatView.drop("mv7")
          }
        } finally Storage.deleteRecursively(dir)
      },
      Some("""SELECT event_type, count(*) AS cnt,
             |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
             |  CAST(min(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS min_value,
             |  CAST(max(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS max_value
             |FROM events WHERE CAST(value AS DECIMAL(38,6)) > 50
             |GROUP BY event_type""".stripMargin),
      harness = true),

    // PREDICATE-IMPLICATION navigation over a filtered view: the view
    // slices on a KEY column (order date >= 1997-01-01 — the classic
    // "recent history" hot-slice datamart) and the dashboard asks a
    // STRICTLY TIGHTER range (>= 1998-01-01). Exact conjunct equality
    // would fall back; the range matcher proves the query's conjunct
    // implies the view's and keeps it as a RESIDUAL, which — being over a
    // view key — re-applies over the view's rows exactly. A tighter range
    // over a measure still falls back (partials can't be re-sliced;
    // spec-asserted). The view is maintained through churned loads with
    // rows crossing the slice boundary BOTH ways. At 100 TB: one
    // last-quarter view serves every nested date range under it, each
    // query reading |keys| rows with the residual pushed into the view
    // scan. The row REQUIREs the navigated plan.
    Q("mv7b_implied_range_navigation",
      (s, d) => {
        import graft.plans.{MatView, MatViewRewrite}
        import graft.ops.{MatViews, MergeOps, Storage}
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
        val dir = java.nio.file.Files.createTempDirectory("mv7b")
        val table = dir.resolve("base")
        val view = dir.resolve("view")
        try {
          val slice = col("o_orderdate") >= lit("1997-01-01").cast("date")
          val orders = Tables.orders(s, d).select(col("o_orderkey"),
            col("o_orderpriority"), col("o_orderdate").cast("date").as("o_orderdate"),
            col("o_totalprice"))
          def load(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(table,
              df.select(col("o_orderkey"), col("o_orderpriority"),
                col("o_orderdate"), dec(col("o_totalprice")).as("o_totalprice"),
                lit(null).cast("timestamp").as("loaded_at"),
                lit(null).cast("timestamp").as("last_upd_at")),
              pk = Seq("o_orderkey"),
              tracked = Seq("o_orderpriority", "o_orderdate", "o_totalprice"),
              runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
          def maintain() = MatViews.maintain(s, table, view,
            pk = Seq("o_orderkey"), keys = Seq("o_orderpriority", "o_orderdate"),
            sums = Map("o_totalprice" -> "sum_rev"),
            maxs = Map("o_totalprice" -> "max_rev"),
            keepVersions = 2, filter = Some(slice))
          // churned bootstrap: %7 missing; %9 dates shifted back 400 days —
          // the truth load then moves rows across the slice boundary
          load(orders.filter(col("o_orderkey") % 7 =!= 0)
            .withColumn("o_orderdate",
              when(col("o_orderkey") % 9 === 0, date_sub(col("o_orderdate"), 400))
                .otherwise(col("o_orderdate"))), CutoffTs)
          maintain()
          load(orders, RunTs)
          maintain() // boundary crossings feed as one-sided rows
          MatViews.registerRewrite(s, "mv7b", table, view,
            keys = Seq("o_orderpriority", "o_orderdate"),
            sums = Map("o_totalprice" -> "sum_rev"),
            maxs = Map("o_totalprice" -> "max_rev"),
            where = Some(slice))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewRewrite
          try {
            val q = Storage.readPartitionedVersion(s, table)
              .filter(col("o_orderdate") >= lit("1998-01-01").cast("date"))
              .groupBy(col("o_orderpriority"))
              .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("sr"),
                max(col("o_totalprice")).as("mx"))
              .select(col("o_orderpriority"), col("cnt"),
                col("sr").cast("double").as("sum_rev"),
                col("mx").cast("double").as("max_rev"))
            def scansOf(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            val scans = scansOf(q)
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(_.contains(table.toString)),
              s"implied tighter range was not navigated onto the view: $scans")
            // an OR-of-dates inside the slice navigates too (raw Or trees
            // normalize to the equality-disjunction implication; the full
            // navigate/fallback matrix is spec'd in MatViewSpec)
            val qOr = Storage.readPartitionedVersion(s, table)
              .filter(col("o_orderdate") === lit("1998-03-01").cast("date") ||
                col("o_orderdate") === lit("1998-06-01").cast("date"))
              .groupBy(col("o_orderpriority"))
              .agg(sum(col("o_totalprice")).as("sr"))
            val scansOr = scansOf(qOr)
            require(scansOr.exists(_.contains(view.toString)) &&
                !scansOr.exists(_.contains(table.toString)),
              s"OR-of-equalities inside the slice was not navigated: $scansOr")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewRewrite)
            MatView.drop("mv7b")
          }
        } finally Storage.deleteRecursively(dir)
      },
      Some("""SELECT o_orderpriority, count(*) AS cnt,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_rev,
             |  CAST(max(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS max_rev
             |FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
             |GROUP BY o_orderpriority""".stripMargin),
      harness = true),

    // EXACT COUNT(DISTINCT measure) navigation — no sketch, no conf gate:
    // maintain an auxiliary (group, measure) DISTINCT view (just a
    // maintained aggregate keyed on BOTH columns; its count_rows makes
    // deletes exact — a (group, m) row disappears when its last copy
    // retracts), then COUNT(DISTINCT m) / SUM(DISTINCT m) / COUNT(*) all
    // navigate through the key-exact distinct family: the view's rows ARE
    // precisely the distinct (group, m) combinations of the base. Closes
    // the r16/r17 gap where measure-distinct was approx-behind-a-conf
    // only. At 100 TB the aux view holds |distinct pairs| rows (≪ base
    // for low-cardinality measures) and maintains for O(Δ + touched
    // pairs); the dashboard's distinct panel reads it with no base scan.
    // The row drives churn (update/insert/delete with value shifts whose
    // retractions must cancel pairs exactly) and REQUIREs the navigated
    // plan.
    Q("mv9_exact_distinct_measure",
      (s, d) => {
        import graft.plans.{MatView, MatViewRewrite}
        import graft.ops.{MatViews, MergeOps, Storage}
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
        val dir = java.nio.file.Files.createTempDirectory("mv9")
        val table = dir.resolve("base")
        val view = dir.resolve("view")
        try {
          val ev = Tables.events(s, d).select(col("event_id"),
            col("event_type"), col("value"))
          def load(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(table,
              df.select(col("event_id"), col("event_type"),
                dec(col("value")).as("value"),
                lit(null).cast("timestamp").as("loaded_at"),
                lit(null).cast("timestamp").as("last_upd_at")),
              pk = Seq("event_id"), tracked = Seq("event_type", "value"),
              runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
          def maintain() = MatViews.maintain(s, table, view,
            pk = Seq("event_id"), keys = Seq("event_type", "value"),
            keepVersions = 2)
          load(ev.filter(col("event_id") % 7 =!= 0)
            .withColumn("value",
              when(col("event_id") % 11 === 0, col("value") + 300.0)
                .otherwise(col("value"))), CutoffTs)
          maintain()
          load(ev, RunTs)
          MergeOps.prunedDelete(table,
            ev.select(col("event_id")).filter(col("event_id") % 13 === 0),
            pk = Seq("event_id"), nParts = 8, keepVersions = 4)
          maintain() // value shifts retract pairs; deletes cancel last copies
          Storage.compact(s, table)
          maintain()
          MatViews.registerRewrite(s, "mv9", table, view,
            keys = Seq("event_type", "value"))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewRewrite
          try {
            val q = Storage.readPartitionedVersion(s, table)
              .groupBy(col("event_type"))
              .agg(count(lit(1)).as("cnt"),
                countDistinct(col("value")).as("n_values"),
                sum_distinct(col("value")).as("sdv"))
              .select(col("event_type"), col("cnt"), col("n_values"),
                col("sdv").cast("double").as("sum_distinct_value"))
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(_.contains(table.toString)),
              s"exact distinct-measure was not navigated onto the aux view: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewRewrite)
            MatView.drop("mv9")
          }
        } finally Storage.deleteRecursively(dir)
      },
      Some("""WITH e AS (SELECT event_type, CAST(value AS DECIMAL(38,6)) AS value
             |  FROM events WHERE event_id % 13 <> 0)
             |SELECT event_type, count(*) AS cnt,
             |  count(DISTINCT value) AS n_values,
             |  CAST(sum(DISTINCT value) AS DOUBLE) AS sum_distinct_value
             |FROM e GROUP BY event_type""".stripMargin),
      harness = true),

    // FILTERED STAR view — the most common partial datamart: a hot slice
    // (o_totalprice > 1000) of a fact⋈dim rollup, maintained end-to-end.
    // The post-join predicate applies PER JOINED IMAGE ROW of the star
    // delta (transition semantics: crossings reduce to one-sided rows) and
    // its columns ride the change feeds automatically; the rewrite
    // resolves the predicate through the SAME join+optimizer pipeline a
    // query goes through, so consumption lines up conjunct-for-conjunct.
    // Fixture churn crosses the slice boundary BOTH ways (prices shifted
    // ±5000 then restored), re-points dim groups, and deletes facts — the
    // min partial forces the flagged re-join recompute, which re-applies
    // the slice predicate. The row REQUIREs the navigated plan (no Join
    // node survives). At 100 TB: the slice view is a sliver of the join,
    // maintained for O(Δ × fan-out), serving every dashboard that repeats
    // the slice predicate from |keys| rows.
    Q("mv7s_filtered_star_view",
      (s, d) => {
        import graft.plans.{MatView, MatViewJoinRewrite}
        import graft.ops.{MatViews, MergeOps, Storage}
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
        val dir = java.nio.file.Files.createTempDirectory("mv7s")
        val cust = dir.resolve("dim_customer")
        val ord = dir.resolve("fct_orders")
        val view = dir.resolve("view")
        try {
          val pred = col("o_totalprice") > 1000
          val cTrue = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
          val oTrue = Tables.orders(s, d).select(col("o_orderkey"),
            col("o_custkey"), col("o_totalprice"))
          def stamp(df: DataFrame) = df
            .withColumn("loaded_at", lit(null).cast("timestamp"))
            .withColumn("last_upd_at", lit(null).cast("timestamp"))
          def loadCust(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(cust, stamp(df),
              pk = Seq("c_custkey"), tracked = Seq("c_mktsegment"),
              runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
          def loadOrd(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(ord,
              stamp(df.withColumn("o_totalprice", dec(col("o_totalprice")))),
              pk = Seq("o_orderkey"), tracked = Seq("o_custkey", "o_totalprice"),
              runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
          val sides = Seq(MatViews.StarSide(ord, Seq("o_orderkey")),
            MatViews.StarSide(cust, Seq("c_custkey")))
          val jks = Seq("o_custkey" -> "c_custkey")
          def maintain() = MatViews.maintainStar(s, sides, view,
            joinKeys = jks, keys = Seq("c_mktsegment"),
            sums = Map("o_totalprice" -> "sum_rev"),
            mins = Map("o_totalprice" -> "min_rev"),
            keepVersions = 2, filter = Some(pred))
          // churned bootstrap: prices shifted across the slice boundary
          // both ways, some facts/dims missing, some dim groups mangled
          loadCust(cTrue.filter(col("c_custkey") % 10 =!= 0)
            .withColumn("c_mktsegment",
              when(col("c_custkey") % 9 === 0, lit("XX")).otherwise(col("c_mktsegment"))),
            CutoffTs)
          loadOrd(oTrue.filter(col("o_orderkey") % 7 =!= 0)
            .withColumn("o_totalprice",
              when(col("o_orderkey") % 11 === 0, col("o_totalprice") - 5000.0)
                .when(col("o_orderkey") % 17 === 0, col("o_totalprice") + 5000.0)
                .otherwise(col("o_totalprice"))), CutoffTs)
          maintain()
          loadCust(cTrue, RunTs)
          loadOrd(oTrue, RunTs)
          MergeOps.prunedDelete(ord,
            oTrue.select(col("o_orderkey")).filter(col("o_orderkey") % 13 === 0),
            pk = Seq("o_orderkey"), nParts = 8, keepVersions = 4)
          maintain() // crossings, re-pointed dims, deletes — one interval
          Storage.compact(s, cust)
          Storage.compact(s, ord)
          maintain()
          MatViews.registerStarRewrite(s, "mv7s", Seq(ord, cust), view,
            joinKeys = jks, keys = Seq("c_mktsegment"),
            sums = Map("o_totalprice" -> "sum_rev"),
            mins = Map("o_totalprice" -> "min_rev"),
            where = Some(pred))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewJoinRewrite
          try {
            val q = Storage.readPartitionedVersion(s, ord)
              .join(Storage.readPartitionedVersion(s, cust),
                col("o_custkey") === col("c_custkey"))
              .filter(pred)
              .groupBy(col("c_mktsegment"))
              .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("sr"),
                min(col("o_totalprice")).as("mn"))
              .select(col("c_mktsegment"), col("cnt"),
                col("sr").cast("double").as("sum_rev"),
                col("mn").cast("double").as("min_rev"))
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(p => p.contains(ord.toString) || p.contains(cust.toString)),
              s"filtered star aggregate was not navigated onto the view: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewJoinRewrite)
            MatView.drop("mv7s")
          }
        } finally Storage.deleteRecursively(dir)
      },
      Some("""WITH o AS (SELECT o_custkey, CAST(o_totalprice AS DECIMAL(38,6)) AS p
             |  FROM orders WHERE o_orderkey % 13 <> 0)
             |SELECT c_mktsegment, count(*) AS cnt,
             |  CAST(sum(p) AS DOUBLE) AS sum_rev,
             |  CAST(min(p) AS DOUBLE) AS min_rev
             |FROM o JOIN customer ON o_custkey = c_custkey
             |WHERE p > 1000
             |GROUP BY c_mktsegment""".stripMargin),
      harness = true),

    // UNKNOWN-MEMBER STAR navigation — the reference's own richest join
    // shape (dwh_fact_charer_location.py:107-112: facts with NULL URLs
    // resolve to the dim's -1 member) as a MAINTAINED, NAVIGABLE view.
    // Maintenance joins on DERIVED synthetic keys (StarSide.derive:
    // fact coalesce(url, SENTINEL) ⋈ dim IF(id=-1, SENTINEL, url) — the
    // same equi-rewrite Facts.joinWithUnknownMember uses query-side, so
    // the join is a hash join at any scale and a derived key maintains
    // per image row like a stored one). The rewrite matches the query's
    // computed-alias join keys STRUCTURALLY (normalized expressions, not
    // alias names), so an ad-hoc aggregate over the engine's own
    // unknown-member join re-plans onto the view — including the NULL-url
    // facts bucketed under the unknown member. Churn: dim members appear
    // late (facts enter the join when their member lands), segments
    // re-point, facts delete. The row REQUIREs the navigated plan.
    Q("mv8_unknown_member_star",
      (s, d) => {
        import graft.plans.{MatView, MatViewJoinRewrite}
        import graft.ops.{Facts, MatViews, MergeOps, Storage}
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
        val dir = java.nio.file.Files.createTempDirectory("mv8")
        val dim = dir.resolve("dim_customer")
        val fct = dir.resolve("fct_orders")
        val view = dir.resolve("view")
        try {
          val seed = s.range(1).select(lit(-1L).as("dim_id"),
            lit(null).cast("string").as("c_url"),
            lit("UNKNOWN").as("c_mktsegment"))
          val dTrue = Tables.customer(s, d).select(
            col("c_custkey").as("dim_id"),
            concat(lit("cust-"), col("c_custkey")).as("c_url"),
            col("c_mktsegment")).unionByName(seed)
          val fTrue = Tables.orders(s, d).select(col("o_orderkey"),
            when(col("o_custkey") % 50 === 0, lit(null).cast("string"))
              .otherwise(concat(lit("cust-"), col("o_custkey"))).as("o_custurl"),
            col("o_totalprice"))
          def stamp(df: DataFrame) = df
            .withColumn("loaded_at", lit(null).cast("timestamp"))
            .withColumn("last_upd_at", lit(null).cast("timestamp"))
          def loadDim(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(dim, stamp(df),
              pk = Seq("dim_id"), tracked = Seq("c_url", "c_mktsegment"),
              runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
          def loadFct(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(fct,
              stamp(df.withColumn("o_totalprice", dec(col("o_totalprice")))),
              pk = Seq("o_orderkey"), tracked = Seq("o_custurl", "o_totalprice"),
              runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
          val fJk = "f_jk" -> Facts.unknownMemberKey(col("o_custurl"))
          val dJk = "d_jk" -> Facts.unknownMemberDimKey(col("c_url"), col("dim_id"))
          val sides = Seq(
            MatViews.StarSide(fct, Seq("o_orderkey"), derive = Seq(fJk)),
            MatViews.StarSide(dim, Seq("dim_id"), derive = Seq(dJk)))
          val jks = Seq("f_jk" -> "d_jk")
          def maintain() = MatViews.maintainStar(s, sides, view,
            joinKeys = jks, keys = Seq("c_mktsegment"),
            sums = Map("o_totalprice" -> "sum_rev"),
            mins = Map("o_totalprice" -> "min_rev"), keepVersions = 2)
          // churned bootstrap: dim members %10 missing (their facts drop
          // out of the inner join until the member lands), %9 segments
          // mangled; fact prices shifted, %7 facts missing
          loadDim(dTrue.filter(col("dim_id") === -1L || col("dim_id") % 10 =!= 0)
            .withColumn("c_mktsegment",
              when(col("dim_id") % 9 === 0, lit("XX")).otherwise(col("c_mktsegment"))),
            CutoffTs)
          loadFct(fTrue.filter(col("o_orderkey") % 7 =!= 0)
            .withColumn("o_totalprice",
              when(col("o_orderkey") % 11 === 0, col("o_totalprice") + 42.0)
                .otherwise(col("o_totalprice"))), CutoffTs)
          maintain()
          loadDim(dTrue, RunTs)
          loadFct(fTrue, RunTs)
          MergeOps.prunedDelete(fct,
            fTrue.select(col("o_orderkey")).filter(col("o_orderkey") % 13 === 0),
            pk = Seq("o_orderkey"), nParts = 8, keepVersions = 4)
          maintain()
          Storage.compact(s, dim)
          Storage.compact(s, fct)
          maintain()
          MatViews.registerStarRewrite(s, "mv8", Seq(fct, dim), view,
            joinKeys = jks, keys = Seq("c_mktsegment"),
            sums = Map("o_totalprice" -> "sum_rev"),
            mins = Map("o_totalprice" -> "min_rev"),
            derives = Seq(Seq(fJk), Seq(dJk)))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewJoinRewrite
          try {
            val q = Facts.joinWithUnknownMember(
                Storage.readPartitionedVersion(s, fct),
                Storage.readPartitionedVersion(s, dim),
                factKey = "o_custurl", dimNaturalKey = "c_url", dimId = "dim_id")
              .groupBy(col("c_mktsegment"))
              .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("sr"),
                min(col("o_totalprice")).as("mn"))
              .select(col("c_mktsegment"), col("cnt"),
                col("sr").cast("double").as("sum_rev"),
                col("mn").cast("double").as("min_rev"))
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(p => p.contains(fct.toString) || p.contains(dim.toString)),
              s"unknown-member star was not navigated onto the view: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewJoinRewrite)
            MatView.drop("mv8")
          }
        } finally Storage.deleteRecursively(dir)
      },
      Some("""WITH f AS (SELECT o_orderkey,
             |    CASE WHEN o_custkey % 50 = 0 THEN NULL
             |         ELSE 'cust-' || CAST(o_custkey AS VARCHAR) END AS url,
             |    CAST(o_totalprice AS DECIMAL(38,6)) AS p
             |  FROM orders WHERE o_orderkey % 13 <> 0),
             |d AS (SELECT c_custkey AS dim_id,
             |    'cust-' || CAST(c_custkey AS VARCHAR) AS url, c_mktsegment
             |  FROM customer
             |  UNION ALL SELECT -1, NULL, 'UNKNOWN')
             |SELECT c_mktsegment, count(*) AS cnt,
             |  CAST(sum(p) AS DOUBLE) AS sum_rev,
             |  CAST(min(p) AS DOUBLE) AS min_rev
             |FROM f JOIN d ON f.url = d.url OR (f.url IS NULL AND d.dim_id = -1)
             |GROUP BY c_mktsegment""".stripMargin),
      harness = true),

    // DISTINCT-COUNT navigation over a STAR — "distinct customers per
    // nation" over fact⋈dim⋈dim, the standard dashboard distinct panel,
    // served BOTH ways with no base scanned. (a) EXACT: an auxiliary
    // DISTINCT star view keyed (n_name, c_custkey) — its rows ARE the
    // join's distinct pairs, count_rows making deletes exact — serves
    // COUNT(DISTINCT c_custkey) through the key-exact distinct family
    // (and COUNT(*) from the same view's count_rows). (b) SKETCH: a
    // per-nation KMV partial (`kmvs` now rides StarDef + maintainStar —
    // the r18 composition gap) serves the explicit KmvSketch estimate;
    // union of k-min sets trimmed to k is the k-min set of the union, so
    // the navigated estimate is bit-identical and the oracle reproduces
    // hash + estimator in SQL. The truth interval re-points customers
    // between nations and deletes facts — retracted hashes sit inside
    // stored sketches, so the row REQUIREs recomputedGroups > 0 on the
    // sketch view's roll, and REQUIREs both aggregates navigated. At
    // 100 TB: two shuffle joins + a distinct shuffle become reads of
    // |nations| + |distinct pairs| maintained rows.
    Q("mv10_star_distinct_navigation",
      (s, d) => {
        import graft.plans.{KmvSketch, MatView, MatViewJoinRewrite}
        import graft.ops.{MatViews, MergeOps, Storage}
        val dir = java.nio.file.Files.createTempDirectory("mv10")
        val nat = dir.resolve("dim_nation")
        val cust = dir.resolve("dim_customer")
        val ord = dir.resolve("fct_orders")
        val viewK = dir.resolve("view_kmv")
        val viewD = dir.resolve("view_distinct")
        try {
          val nTrue = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
          val cTrue = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
          // %3 fact slice — the mv3/mv5 fixture-cost rationale
          val oTrue = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
            .filter(col("o_orderkey") % 3 === 0)
          def stamp(df: DataFrame) = df
            .withColumn("loaded_at", lit(null).cast("timestamp"))
            .withColumn("last_upd_at", lit(null).cast("timestamp"))
          def loadNat(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(nat, stamp(df),
              pk = Seq("n_nationkey"), tracked = Seq("n_name"),
              runTs = lit(ts).cast("timestamp"), nParts = 4, keepVersions = 4)
          def loadCust(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(cust, stamp(df),
              pk = Seq("c_custkey"), tracked = Seq("c_nationkey"),
              runTs = lit(ts).cast("timestamp"), nParts = 4, keepVersions = 4)
          def loadOrd(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(ord, stamp(df),
              pk = Seq("o_orderkey"), tracked = Seq("o_custkey"),
              runTs = lit(ts).cast("timestamp"), nParts = 4, keepVersions = 4)
          val sides = Seq(MatViews.StarSide(ord, Seq("o_orderkey")),
            MatViews.StarSide(cust, Seq("c_custkey")),
            MatViews.StarSide(nat, Seq("n_nationkey")))
          val jks = Seq("o_custkey" -> "c_custkey", "c_nationkey" -> "n_nationkey")
          def maintainK() = MatViews.maintainStar(s, sides, viewK,
            joinKeys = jks, keys = Seq("n_name"),
            kmvs = Map("c_custkey" -> "kmv_cust"), kmvK = 64, keepVersions = 2)
          def maintainD() = MatViews.maintainStar(s, sides, viewD,
            joinKeys = jks, keys = Seq("n_name", "c_custkey"), keepVersions = 2)
          // churned bootstrap: customers mis-bucketed between nations,
          // facts halved
          loadNat(nTrue, CutoffTs)
          loadCust(cTrue.withColumn("c_nationkey",
            when(col("c_custkey") % 10 === 0,
              ((col("c_nationkey") + 1) % 25).cast("int"))
              .otherwise(col("c_nationkey"))), CutoffTs)
          loadOrd(oTrue.filter(col("o_orderkey") % 2 === 0), CutoffTs)
          maintainK(); maintainD()
          // truth: each re-pointed customer RETRACTS its hash from the old
          // nation's sketch; the fact takedown retracts last copies too
          loadCust(cTrue, RunTs)
          loadOrd(oTrue, RunTs)
          MergeOps.prunedDelete(ord,
            oTrue.select(col("o_orderkey")).filter(col("o_orderkey") % 13 === 0),
            pk = Seq("o_orderkey"), nParts = 4, keepVersions = 4)
          val rolledK = maintainK()
          require(rolledK.recomputedGroups > 0,
            "the churn must force the star sketch-retraction recompute path")
          maintainD()
          Storage.compact(s, nat)
          Storage.compact(s, cust)
          Storage.compact(s, ord)
          maintainK(); maintainD() // markers advance through empty feeds
          MatViews.registerStarRewrite(s, "mv10d", Seq(ord, cust, nat), viewD,
            joinKeys = jks, keys = Seq("n_name", "c_custkey"))
          MatViews.registerStarRewrite(s, "mv10k", Seq(ord, cust, nat), viewK,
            joinKeys = jks, keys = Seq("n_name"),
            kmvs = Map("c_custkey" -> "kmv_cust"), kmvK = 64)
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewJoinRewrite
          try {
            def joined = Storage.readPartitionedVersion(s, ord)
              .join(Storage.readPartitionedVersion(s, cust),
                col("o_custkey") === col("c_custkey"))
              .join(Storage.readPartitionedVersion(s, nat),
                col("c_nationkey") === col("n_nationkey"))
            // each Aggregate picks ITS view: the exact panel fails the
            // sketch view (c_custkey is no key there; approx is conf-off)
            // and lands on the distinct view, the estimate the reverse
            val exact = joined.groupBy(col("n_name"))
              .agg(count(lit(1)).as("cnt"),
                countDistinct(col("c_custkey")).as("n_cust"))
            val est = joined.groupBy(col("n_name"))
              .agg(KmvSketch.distinctEstimate(col("c_custkey"), 64).as("est_cust"))
            val q = exact.join(est, Seq("n_name"))
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(viewD.toString)) &&
                scans.exists(_.contains(viewK.toString)) &&
                !scans.exists(p => p.contains(nat.toString) ||
                  p.contains(cust.toString) || p.contains(ord.toString)),
              s"star distinct panel was not navigated onto both views: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewJoinRewrite)
            MatView.drop("mv10d")
            MatView.drop("mv10k")
          }
        } finally Storage.deleteRecursively(dir)
      },
      Some("""WITH o AS (SELECT o_orderkey, o_custkey FROM orders
             |    WHERE o_orderkey % 3 = 0 AND o_orderkey % 13 <> 0),
             |j AS (SELECT n_name, c_custkey
             |    FROM o JOIN customer ON o_custkey = c_custkey
             |           JOIN nation ON c_nationkey = n_nationkey),
             |c AS (SELECT n_name, count(*) AS cnt,
             |    count(DISTINCT c_custkey) AS n_cust
             |  FROM j GROUP BY 1),
             |h AS (SELECT DISTINCT n_name,
             |    (CAST(c_custkey AS BIGINT) % 2147483647 * 1103515245 + 12345)
             |      % 2147483647 AS hv
             |  FROM j),
             |r AS (SELECT n_name, hv,
             |    row_number() OVER (PARTITION BY n_name ORDER BY hv) AS rn,
             |    COUNT(*) OVER (PARTITION BY n_name) AS n
             |  FROM h),
             |est AS (SELECT n_name,
             |    CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
             |         ELSE 63.0 / (CAST(hv AS DOUBLE) / 2147483647.0) END AS est_cust
             |  FROM r WHERE rn = (CASE WHEN n < 64 THEN n ELSE 64 END))
             |SELECT n_name, cnt, n_cust, est_cust
             |FROM c JOIN est USING (n_name)""".stripMargin),
      harness = true),

    // EXACT median/percentile navigation: the auxiliary DISTRIBUTION view
    // keyed (event_type, value) — mv9's machinery, whose count_rows IS the
    // per-value multiplicity — serves median(x) and percentile(x, p) as
    // Percentile(value, p, frequency = count_rows) over |distinct values|
    // rows. Spark's frequency semantics expand the identical multiset, so
    // the interpolated result is bit-identical to the base scan (and to
    // DuckDB's quantile_cont — exact-repr verified at sf0.001/sf0.01).
    // median() and percentile_cont() lower to Percentile before the rule
    // runs, so all three surfaces navigate; a query already carrying a
    // frequency column falls back. Churned loads shift values across
    // refreshes (the median itself moves) and delete rows (count_rows
    // decrements keep retractions exact, rows at zero disappear). The row
    // REQUIREs the navigated plan. At 100 TB: a median panel reads the
    // distribution view — no re-sort of the base, ever.
    Q("mv11_percentile_navigation",
      (s, d) => {
        import graft.plans.{MatView, MatViewRewrite}
        import graft.ops.{MatViews, MergeOps, Storage}
        val dir = java.nio.file.Files.createTempDirectory("mv11")
        val table = dir.resolve("base")
        val view = dir.resolve("view")
        try {
          val ev = Tables.events(s, d).select(col("event_id"),
            col("event_type"), col("value"))
          def load(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(table,
              df.select(col("event_id"), col("event_type"), col("value"),
                lit(null).cast("timestamp").as("loaded_at"),
                lit(null).cast("timestamp").as("last_upd_at")),
              pk = Seq("event_id"), tracked = Seq("event_type", "value"),
              runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
          def maintain() = MatViews.maintain(s, table, view,
            pk = Seq("event_id"), keys = Seq("event_type", "value"),
            keepVersions = 2)
          // churned bootstrap: %7 missing, %11 values shifted +300 — the
          // truth load pulls those back DOWN through the median
          load(ev.filter(col("event_id") % 7 =!= 0)
            .withColumn("value",
              when(col("event_id") % 11 === 0, col("value") + 300.0)
                .otherwise(col("value"))), CutoffTs)
          maintain()
          load(ev, RunTs)
          MergeOps.prunedDelete(table,
            ev.select(col("event_id")).filter(col("event_id") % 13 === 0),
            pk = Seq("event_id"), nParts = 8, keepVersions = 4)
          maintain() // every group's distribution (and median) moves
          Storage.compact(s, table)
          maintain()
          MatViews.registerRewrite(s, "mv11", table, view,
            keys = Seq("event_type", "value"))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewRewrite
          try {
            val q = Storage.readPartitionedVersion(s, table)
              .groupBy(col("event_type"))
              .agg(count(lit(1)).as("cnt"),
                median(col("value")).as("med"),
                percentile(col("value"), lit(0.25)).as("p25"),
                percentile(col("value"), lit(0.75)).as("p75"))
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(_.contains(table.toString)),
              s"median/percentile was not navigated onto the distribution view: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewRewrite)
            MatView.drop("mv11")
          }
        } finally Storage.deleteRecursively(dir)
      },
      Some("""WITH e AS (SELECT event_type, value FROM events
             |    WHERE event_id % 13 <> 0)
             |SELECT event_type, count(*) AS cnt, median(value) AS med,
             |       quantile_cont(value, 0.25) AS p25,
             |       quantile_cont(value, 0.75) AS p75
             |FROM e GROUP BY event_type""".stripMargin),
      harness = true),

    // VARIANCE/STDDEV NAVIGATION — the last standard dashboard aggregate
    // re-expressed over maintained partials: a Σx² partial (signed, purely
    // additive — deletes subtract the exact stored pre-image term, so it
    // never flags a recompute) joins the sum and non-null-count partials,
    // and var_samp/var_pop/stddev_samp/stddev_pop serve as
    // (Σx² − (Σx)²/n)/divisor in the double family with Spark's exact
    // n=0/n=1 edge semantics (MatViewSupport.momentsOnto; decimal
    // measures fall back, the AVG stance). Churned loads shift values
    // and delete rows — the variance itself moves between refreshes; the
    // maintained triple tracks it through signed deltas alone. dval's
    // integer-valued doubles keep every partial bit-exact; value's raw
    // doubles exercise the ULP-envelope stance (both sides round(…, 6) —
    // the re-expression and DuckDB's streaming algorithm agree to ~1e-9
    // while ROUND only needs agreement at 5e-7). The row REQUIREs the
    // navigated plan: zero base scans. At 100 TB: the stddev panel beside
    // every AVG reads |groups| view rows — no base re-scan, ever.
    Q("mv12_variance_navigation",
      (s, d) => {
        import graft.plans.{MatView, MatViewRewrite}
        import graft.ops.{MatViews, MergeOps, Storage}
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
        val dir = java.nio.file.Files.createTempDirectory("mv12")
        val table = dir.resolve("base")
        val view = dir.resolve("view")
        try {
          val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
            col("event_type"), col("value"))
          def load(df: DataFrame, ts: String) = {
            // dval derives AFTER any churn shift: integer-valued double
            // with deterministic nulls (n ≠ count_rows), floored through
            // the decimal rendering so Spark and DuckDB floor agree
            val dval = when(col("user_id") % 7 === 0, lit(null))
              .otherwise(floor(dec(col("value"))).cast("double"))
            MergeOps.prunedConditionalUpsert(table,
              df.select(col("event_id"), col("event_type"), col("value"),
                dval.as("dval"),
                lit(null).cast("timestamp").as("loaded_at"),
                lit(null).cast("timestamp").as("last_upd_at")),
              pk = Seq("event_id"), tracked = Seq("event_type", "value", "dval"),
              runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
          }
          def maintain() = MatViews.maintain(s, table, view,
            pk = Seq("event_id"), keys = Seq("event_type"),
            sums = Map("value" -> "sum_v", "dval" -> "sum_d"),
            counts = Map("value" -> "cnt_v", "dval" -> "cnt_d"),
            sumsqs = Map("value" -> "ssq_v", "dval" -> "ssq_d"),
            keepVersions = 2)
          // churned bootstrap: %7 missing, %11 values shifted +300 — the
          // truth load pulls the variance back DOWN through retractions
          load(ev.filter(col("event_id") % 7 =!= 0)
            .withColumn("value",
              when(col("event_id") % 11 === 0, col("value") + 300.0)
                .otherwise(col("value"))), CutoffTs)
          maintain()
          load(ev, RunTs)
          MergeOps.prunedDelete(table,
            ev.select(col("event_id")).filter(col("event_id") % 13 === 0),
            pk = Seq("event_id"), nParts = 8, keepVersions = 4)
          maintain() // deletes shift every group's variance
          Storage.compact(s, table)
          maintain()
          MatViews.registerRewrite(s, "mv12", table, view,
            keys = Seq("event_type"),
            sums = Map("value" -> "sum_v", "dval" -> "sum_d"),
            counts = Map("value" -> "cnt_v", "dval" -> "cnt_d"),
            sumsqs = Map("value" -> "ssq_v", "dval" -> "ssq_d"))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewRewrite
          try {
            val q = Storage.readPartitionedVersion(s, table)
              .groupBy(col("event_type"))
              .agg(count(lit(1)).as("cnt"),
                round(var_samp(col("dval")), 6).as("vs_d"),
                round(var_pop(col("dval")), 6).as("vp_d"),
                round(stddev_samp(col("dval")), 6).as("ss_d"),
                round(stddev_pop(col("dval")), 6).as("sp_d"),
                round(var_samp(col("value")), 6).as("vs_v"),
                round(stddev_pop(col("value")), 6).as("sp_v"))
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(_.contains(table.toString)),
              s"variance family was not navigated onto the Σx² partials: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewRewrite)
            MatView.drop("mv12")
          }
        } finally Storage.deleteRecursively(dir)
      },
      Some("""WITH e AS (SELECT event_type, value,
             |    CASE WHEN user_id % 7 = 0 THEN NULL
             |         ELSE CAST(FLOOR(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
             |    END AS dval
             |  FROM events WHERE event_id % 13 <> 0)
             |SELECT event_type, count(*) AS cnt,
             |       round(var_samp(dval), 6) AS vs_d,
             |       round(var_pop(dval), 6) AS vp_d,
             |       round(stddev_samp(dval), 6) AS ss_d,
             |       round(stddev_pop(dval), 6) AS sp_d,
             |       round(var_samp(value), 6) AS vs_v,
             |       round(stddev_pop(value), 6) AS sp_v
             |FROM e GROUP BY event_type""".stripMargin),
      harness = true),

    // HEAVY-HITTERS TOP-K NAVIGATION — the dashboard's "top items per
    // group" panel served by COMPOSITION: the inner (group, item) count
    // navigates onto the aux-distinct view (count_rows IS the item
    // frequency — mv9/mv10's multiplicity semantics, pinned here at the
    // oracle gate), and the row_number window then ranks VIEW-SIZED rows.
    // No sketch needed for an exact answer. Churned loads re-assign items
    // (%11 rows bootstrap under a shifted item id) and delete rows — the
    // per-item counts, and therefore the ranking itself, move between
    // refreshes and the maintained multiplicities must track it. The row
    // REQUIREs the navigated plan: zero base scans under the whole
    // windowed query. At 100 TB: the top-k panel ranks |distinct
    // (group, item)| view rows instead of re-counting the event log.
    Q("mv13_topk_navigation",
      (s, d) => {
        import graft.plans.{MatView, MatViewRewrite}
        import graft.ops.{MatViews, MergeOps, Storage}
        import org.apache.spark.sql.expressions.Window
        val dir = java.nio.file.Files.createTempDirectory("mv13")
        val table = dir.resolve("base")
        val view = dir.resolve("view")
        try {
          val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
            col("event_type"))
          def load(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(table,
              df.select(col("event_id"), col("event_type"), col("item"),
                lit(null).cast("timestamp").as("loaded_at"),
                lit(null).cast("timestamp").as("last_upd_at")),
              pk = Seq("event_id"), tracked = Seq("event_type", "item"),
              runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
          def maintain() = MatViews.maintain(s, table, view,
            pk = Seq("event_id"), keys = Seq("event_type", "item"),
            keepVersions = 2)
          // churned bootstrap: %11 rows carry a re-assigned item — the
          // truth load moves their counts between items, re-ranking
          load(ev.withColumn("item",
            (col("user_id") + when(col("event_id") % 11 === 0, 7)
              .otherwise(0)) % 53), CutoffTs)
          maintain()
          load(ev.withColumn("item", col("user_id") % 53), RunTs)
          MergeOps.prunedDelete(table,
            ev.select(col("event_id")).filter(col("event_id") % 13 === 0),
            pk = Seq("event_id"), nParts = 8, keepVersions = 4)
          maintain()
          Storage.compact(s, table)
          maintain()
          MatViews.registerRewrite(s, "mv13", table, view,
            keys = Seq("event_type", "item"))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewRewrite
          try {
            val q = Storage.readPartitionedVersion(s, table)
              .groupBy(col("event_type"), col("item"))
              .agg(count(lit(1)).as("cnt"))
              .withColumn("rn", row_number().over(
                Window.partitionBy("event_type")
                  .orderBy(col("cnt").desc, col("item"))).cast("long"))
              .filter(col("rn") <= 3)
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(_.contains(table.toString)),
              s"top-k panel was not navigated onto the aux view: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewRewrite)
            MatView.drop("mv13")
          }
        } finally Storage.deleteRecursively(dir)
      },
      Some("""WITH e AS (SELECT event_type, user_id % 53 AS item
             |    FROM events WHERE event_id % 13 <> 0),
             |c AS (SELECT event_type, item, count(*) AS cnt
             |      FROM e GROUP BY 1, 2),
             |r AS (SELECT event_type, item, cnt,
             |        row_number() OVER (PARTITION BY event_type
             |          ORDER BY cnt DESC, item) AS rn
             |      FROM c)
             |SELECT event_type, item, cnt, rn FROM r WHERE rn <= 3""".stripMargin),
      harness = true),

    // SKEWNESS/KURTOSIS NAVIGATION — the central-moment family COMPLETED:
    // Σx³ and Σx⁴ power-sum partials (signed, purely additive under
    // retraction like every power sum) join mv12's triple, and
    // skewness/kurtosis serve as Spark's population formulas
    //   skew = √n·M3/√(M2³),  kurt = n·M4/M2² − 3
    // with the central sums M2/M3/M4 re-expressed from the power sums
    // (MatViewSupport.momentsOnto — n=0 and M2=0 edges mirrored from
    // CentralMomentAgg). DuckDB's own skewness/kurtosis carry SAMPLE
    // bias corrections, so the oracle computes the population formulas
    // directly from SQL power sums — the honest cross-engine check of
    // the identical algebra. Churned loads + deletes move every group's
    // third and fourth moments; the row REQUIREs the navigated plan. At
    // 100 TB: the full distribution-shape panel (avg/stddev/skew/kurt)
    // reads |groups| view rows — one maintained state, zero base scans.
    Q("mv14_moments_navigation",
      (s, d) => {
        import graft.plans.{MatView, MatViewRewrite}
        import graft.ops.{MatViews, MergeOps, Storage}
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
        val dir = java.nio.file.Files.createTempDirectory("mv14")
        val table = dir.resolve("base")
        val view = dir.resolve("view")
        try {
          val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
            col("event_type"), col("value"))
          def load(df: DataFrame, ts: String) = {
            val dval = when(col("user_id") % 7 === 0, lit(null))
              .otherwise(floor(dec(col("value"))).cast("double"))
            MergeOps.prunedConditionalUpsert(table,
              df.select(col("event_id"), col("event_type"), col("value"),
                dval.as("dval"),
                lit(null).cast("timestamp").as("loaded_at"),
                lit(null).cast("timestamp").as("last_upd_at")),
              pk = Seq("event_id"), tracked = Seq("event_type", "value", "dval"),
              runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
          }
          def maintain() = MatViews.maintain(s, table, view,
            pk = Seq("event_id"), keys = Seq("event_type"),
            sums = Map("dval" -> "sum_d"), counts = Map("dval" -> "cnt_d"),
            sumsqs = Map("dval" -> "ssq_d"),
            sumcubes = Map("dval" -> "scu_d"),
            sumquads = Map("dval" -> "squ_d"), keepVersions = 2)
          // churned bootstrap: %7 missing, %11 values shifted +300 (a fat
          // right tail the truth load retracts — the skew itself flips)
          load(ev.filter(col("event_id") % 7 =!= 0)
            .withColumn("value",
              when(col("event_id") % 11 === 0, col("value") + 300.0)
                .otherwise(col("value"))), CutoffTs)
          maintain()
          load(ev, RunTs)
          MergeOps.prunedDelete(table,
            ev.select(col("event_id")).filter(col("event_id") % 13 === 0),
            pk = Seq("event_id"), nParts = 8, keepVersions = 4)
          maintain()
          Storage.compact(s, table)
          maintain()
          MatViews.registerRewrite(s, "mv14", table, view,
            keys = Seq("event_type"),
            sums = Map("dval" -> "sum_d"), counts = Map("dval" -> "cnt_d"),
            sumsqs = Map("dval" -> "ssq_d"),
            sumcubes = Map("dval" -> "scu_d"),
            sumquads = Map("dval" -> "squ_d"))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewRewrite
          try {
            val q = Storage.readPartitionedVersion(s, table)
              .groupBy(col("event_type"))
              .agg(count(lit(1)).as("cnt"),
                round(skewness(col("dval")), 6).as("skew_d"),
                round(kurtosis(col("dval")), 6).as("kurt_d"),
                round(stddev_samp(col("dval")), 6).as("sd_d"))
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(_.contains(table.toString)),
              s"moment family was not navigated onto the power sums: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewRewrite)
            MatView.drop("mv14")
          }
        } finally Storage.deleteRecursively(dir)
      },
      Some("""WITH e AS (SELECT event_type,
             |    CASE WHEN user_id % 7 = 0 THEN NULL
             |         ELSE CAST(FLOOR(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
             |    END AS dval
             |  FROM events WHERE event_id % 13 <> 0),
             |s AS (SELECT event_type, count(*) AS cnt, count(dval) AS n,
             |        sum(dval) AS s1, sum(dval*dval) AS s2,
             |        sum(dval*dval*dval) AS s3,
             |        sum(dval*dval*dval*dval) AS s4
             |      FROM e GROUP BY event_type)
             |SELECT event_type, cnt,
             |  round(sqrt(n) * (s3 - 3*(s1/n)*s2 + 2*(s1/n)*(s1/n)*s1)
             |        / sqrt(pow(s2 - (s1*s1)/n, 3)), 6) AS skew_d,
             |  round(n * (s4 - 4*(s1/n)*s3 + 6*(s1/n)*(s1/n)*s2
             |             - 3*(s1/n)*(s1/n)*(s1/n)*s1)
             |        / ((s2 - (s1*s1)/n) * (s2 - (s1*s1)/n)) - 3, 6) AS kurt_d,
             |  round(sqrt((s2 - (s1*s1)/n) / (n - 1)), 6) AS sd_d
             |FROM s""".stripMargin),
      harness = true),

    // CORR/COVAR NAVIGATION — the cross-moment family: a registered PAIR
    // maintains six pairwise-complete partials (n, Σx, Σy, Σx², Σy², Σxy
    // — every term gated on BOTH inputs non-null, exactly the rows
    // Spark's Covariance update consumes, all signed additive sums), and
    // corr / covar_pop / covar_samp serve as ck/√(xMk·yMk), ck/n,
    // ck/(n−1) with ck = Σxy − ΣxΣy/n (MatViewSupport.covarianceOnto;
    // corr's unguarded denominator keeps the base plan's ANSI
    // divide-by-zero behavior — spec'd). x and y carry DIFFERENT null
    // patterns, so the pairwise n differs from both columns' counts and
    // count(*): the gate distinguishes all three. Churned loads shift
    // values (the correlation itself moves) and deletes retract exact
    // pre-image terms. DuckDB's corr/covar share Spark's pairwise
    // semantics, so the oracle uses them directly. The row REQUIREs the
    // navigated plan. At 100 TB: the correlation matrix panel reads
    // |groups| view rows per registered pair — no base re-scan.
    Q("mv15_corr_navigation",
      (s, d) => {
        import graft.plans.{MatView, MatViewRewrite}
        import graft.ops.{MatViews, MergeOps, Storage}
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
        val dir = java.nio.file.Files.createTempDirectory("mv15")
        val table = dir.resolve("base")
        val view = dir.resolve("view")
        try {
          val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
            col("event_type"), col("value"))
          def load(df: DataFrame, ts: String) = {
            // xv: floored value with nulls on user_id%7; yv: xv plus a
            // user-dependent offset (genuinely correlated, not equal)
            // with nulls on user_id%5 — both derived AFTER any churn
            val fl = floor(dec(col("value"))).cast("double")
            val xv = when(col("user_id") % 7 === 0, lit(null)).otherwise(fl)
            val yv = when(col("user_id") % 5 === 0, lit(null))
              .otherwise(fl + (col("user_id") % 10).cast("double") * 3.0)
            MergeOps.prunedConditionalUpsert(table,
              df.select(col("event_id"), col("event_type"),
                xv.as("xv"), yv.as("yv"),
                lit(null).cast("timestamp").as("loaded_at"),
                lit(null).cast("timestamp").as("last_upd_at")),
              pk = Seq("event_id"), tracked = Seq("event_type", "xv", "yv"),
              runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
          }
          def maintain() = MatViews.maintain(s, table, view,
            pk = Seq("event_id"), keys = Seq("event_type"),
            covs = Map("xy" -> ("xv", "yv")), keepVersions = 2)
          load(ev.filter(col("event_id") % 7 =!= 0)
            .withColumn("value",
              when(col("event_id") % 11 === 0, col("value") + 300.0)
                .otherwise(col("value"))), CutoffTs)
          maintain()
          load(ev, RunTs)
          MergeOps.prunedDelete(table,
            ev.select(col("event_id")).filter(col("event_id") % 13 === 0),
            pk = Seq("event_id"), nParts = 8, keepVersions = 4)
          maintain()
          Storage.compact(s, table)
          maintain()
          MatViews.registerRewrite(s, "mv15", table, view,
            keys = Seq("event_type"), covs = Map("xy" -> ("xv", "yv")))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewRewrite
          try {
            val q = Storage.readPartitionedVersion(s, table)
              .groupBy(col("event_type"))
              .agg(count(lit(1)).as("cnt"),
                round(corr(col("xv"), col("yv")), 6).as("r_xy"),
                round(covar_pop(col("xv"), col("yv")), 6).as("cp_xy"),
                round(covar_samp(col("xv"), col("yv")), 6).as("cs_xy"))
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(_.contains(table.toString)),
              s"corr/covar was not navigated onto the pair partials: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewRewrite)
            MatView.drop("mv15")
          }
        } finally Storage.deleteRecursively(dir)
      },
      Some("""WITH e AS (SELECT event_type,
             |    CASE WHEN user_id % 7 = 0 THEN NULL
             |         ELSE CAST(FLOOR(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
             |    END AS xv,
             |    CASE WHEN user_id % 5 = 0 THEN NULL
             |         ELSE CAST(FLOOR(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
             |              + (user_id % 10) * 3.0
             |    END AS yv
             |  FROM events WHERE event_id % 13 <> 0)
             |SELECT event_type, count(*) AS cnt,
             |       round(corr(xv, yv), 6) AS r_xy,
             |       round(covar_pop(xv, yv), 6) AS cp_xy,
             |       round(covar_samp(xv, yv), 6) AS cs_xy
             |FROM e GROUP BY event_type""".stripMargin),
      harness = true),

    // REGR_* NAVIGATION — the full SQL-standard linear-regression family
    // served from the SAME six pair partials as mv15 (zero new state):
    // regr_slope/intercept/r2 by role-normalized formula
    // (MatViewSupport.regrOnto, edges pinned against Spark: n=0 or
    // constant-x → NULL, constant-y r2 → 1), regr_avgx/avgy through
    // their pairwise-gated Average lowering, regr_count through the
    // two-column Count lowering, regr_sxx/syy through RegrReplacement,
    // regr_sxy through its Covariance subclass. DuckDB implements the
    // same PostgreSQL semantics, so the oracle uses its regr_* directly.
    // The row REQUIREs the navigated plan. At 100 TB: the trendline
    // panel (slope + intercept + R² per segment) reads |groups| view
    // rows from the correlation pair it already maintains.
    Q("mv16_regr_navigation",
      (s, d) => {
        import graft.plans.{MatView, MatViewRewrite}
        import graft.ops.{MatViews, MergeOps, Storage}
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
        val dir = java.nio.file.Files.createTempDirectory("mv16")
        val table = dir.resolve("base")
        val view = dir.resolve("view")
        try {
          val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
            col("event_type"), col("value"))
          def load(df: DataFrame, ts: String) = {
            val fl = floor(dec(col("value"))).cast("double")
            val xv = when(col("user_id") % 7 === 0, lit(null)).otherwise(fl)
            val yv = when(col("user_id") % 5 === 0, lit(null))
              .otherwise(fl * 2.0 + (col("user_id") % 10).cast("double") * 3.0)
            MergeOps.prunedConditionalUpsert(table,
              df.select(col("event_id"), col("event_type"),
                xv.as("xv"), yv.as("yv"),
                lit(null).cast("timestamp").as("loaded_at"),
                lit(null).cast("timestamp").as("last_upd_at")),
              pk = Seq("event_id"), tracked = Seq("event_type", "xv", "yv"),
              runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
          }
          def maintain() = MatViews.maintain(s, table, view,
            pk = Seq("event_id"), keys = Seq("event_type"),
            covs = Map("xy" -> ("xv", "yv")), keepVersions = 2)
          load(ev.filter(col("event_id") % 7 =!= 0)
            .withColumn("value",
              when(col("event_id") % 11 === 0, col("value") + 300.0)
                .otherwise(col("value"))), CutoffTs)
          maintain()
          load(ev, RunTs)
          MergeOps.prunedDelete(table,
            ev.select(col("event_id")).filter(col("event_id") % 13 === 0),
            pk = Seq("event_id"), nParts = 8, keepVersions = 4)
          maintain()
          Storage.compact(s, table)
          maintain()
          MatViews.registerRewrite(s, "mv16", table, view,
            keys = Seq("event_type"), covs = Map("xy" -> ("xv", "yv")))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewRewrite
          try {
            val q = Storage.readPartitionedVersion(s, table)
              .groupBy(col("event_type"))
              .agg(expr("regr_count(yv, xv)").as("rc"),
                round(expr("regr_slope(yv, xv)"), 6).as("slope"),
                round(expr("regr_intercept(yv, xv)"), 6).as("icept"),
                round(expr("regr_r2(yv, xv)"), 6).as("r2"),
                round(expr("regr_avgx(yv, xv)"), 6).as("ax"),
                round(expr("regr_avgy(yv, xv)"), 6).as("ay"),
                round(expr("regr_sxy(yv, xv)"), 4).as("sxy"))
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(_.contains(table.toString)),
              s"regr family was not navigated onto the pair partials: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewRewrite)
            MatView.drop("mv16")
          }
        } finally Storage.deleteRecursively(dir)
      },
      Some("""WITH e AS (SELECT event_type,
             |    CASE WHEN user_id % 7 = 0 THEN NULL
             |         ELSE CAST(FLOOR(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
             |    END AS xv,
             |    CASE WHEN user_id % 5 = 0 THEN NULL
             |         ELSE CAST(FLOOR(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
             |              * 2.0 + (user_id % 10) * 3.0
             |    END AS yv
             |  FROM events WHERE event_id % 13 <> 0)
             |SELECT event_type, CAST(regr_count(yv, xv) AS BIGINT) AS rc,
             |       round(regr_slope(yv, xv), 6) AS slope,
             |       round(regr_intercept(yv, xv), 6) AS icept,
             |       round(regr_r2(yv, xv), 6) AS r2,
             |       round(regr_avgx(yv, xv), 6) AS ax,
             |       round(regr_avgy(yv, xv), 6) AS ay,
             |       round(regr_sxy(yv, xv), 4) AS sxy
             |FROM e GROUP BY event_type""".stripMargin),
      harness = true),

    // HISTOGRAM NAVIGATION — the chart-ready binned distribution served
    // from the (group, value) DISTRIBUTION view by EXPRESSION GROUPING:
    // `GROUP BY event_type, floor(value/50)` groups by expressions of the
    // view's keys, so whole view groups re-partition into bins and
    // SUM(count_rows) re-aggregates exactly (the round-19 substitution
    // machinery; no new rewrite code — this row pins the composition at
    // the oracle). Churned loads + deletes move values across bin
    // boundaries between refreshes. The row REQUIREs the navigated plan.
    // At 100 TB: every histogram panel over the measure reads |distinct
    // (group, value)| view rows — the base's value distribution is
    // maintained once and serves every bin width.
    Q("mv17_histogram_navigation",
      (s, d) => {
        import graft.plans.{MatView, MatViewRewrite}
        import graft.ops.{MatViews, MergeOps, Storage}
        val dir = java.nio.file.Files.createTempDirectory("mv17")
        val table = dir.resolve("base")
        val view = dir.resolve("view")
        try {
          val ev = Tables.events(s, d).select(col("event_id"),
            col("event_type"), col("value"))
          def load(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(table,
              df.select(col("event_id"), col("event_type"), col("value"),
                lit(null).cast("timestamp").as("loaded_at"),
                lit(null).cast("timestamp").as("last_upd_at")),
              pk = Seq("event_id"), tracked = Seq("event_type", "value"),
              runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
          def maintain() = MatViews.maintain(s, table, view,
            pk = Seq("event_id"), keys = Seq("event_type", "value"),
            keepVersions = 2)
          load(ev.filter(col("event_id") % 7 =!= 0)
            .withColumn("value",
              when(col("event_id") % 11 === 0, col("value") + 300.0)
                .otherwise(col("value"))), CutoffTs)
          maintain()
          load(ev, RunTs)
          MergeOps.prunedDelete(table,
            ev.select(col("event_id")).filter(col("event_id") % 13 === 0),
            pk = Seq("event_id"), nParts = 8, keepVersions = 4)
          maintain()
          Storage.compact(s, table)
          maintain()
          MatViews.registerRewrite(s, "mv17", table, view,
            keys = Seq("event_type", "value"))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewRewrite
          try {
            val q = Storage.readPartitionedVersion(s, table)
              .groupBy(col("event_type"),
                floor(col("value") / 50.0).cast("long").as("bin"))
              .agg(count(lit(1)).as("cnt"))
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(_.contains(table.toString)),
              s"histogram was not navigated onto the distribution view: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewRewrite)
            MatView.drop("mv17")
          }
        } finally Storage.deleteRecursively(dir)
      },
      Some("""WITH e AS (SELECT event_type, value FROM events
             |    WHERE event_id % 13 <> 0)
             |SELECT event_type,
             |       CAST(FLOOR(value / 50.0) AS BIGINT) AS bin,
             |       count(*) AS cnt
             |FROM e GROUP BY 1, 2""".stripMargin),
      harness = true),

    // STAR STATISTICAL PANEL — the new moment/cross-moment partials
    // pinned at the oracle gate THROUGH the star delta path: a two-side
    // star (orders ⋈ customer) maintains Σx² power sums on the fact
    // measure AND a CROSS-SIDE cov pair (fact price × dim balance), and
    // stddev/variance/corr/covar serve per customer segment. The churn
    // exercises exactly what makes star maintenance hard: customers
    // re-bucket between segments (whole join subtrees move groups — the
    // net-multiplicity cancellation must keep the signed Σx²/Σxy exact
    // through the transient cross terms), fact prices shift, and orders
    // delete. The row REQUIREs the navigated plan: zero base scans, no
    // Join node. At 100 TB: the per-segment risk panel (spread + price/
    // balance correlation) reads |segments| view rows — the fact⋈dim
    // join never re-runs at serve time.
    Q("mv18_star_stats_navigation",
      (s, d) => {
        import graft.plans.{MatView, MatViewJoinRewrite}
        import graft.ops.{MatViews, MergeOps, Storage}
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
        val dir = java.nio.file.Files.createTempDirectory("mv18")
        val cust = dir.resolve("dim_customer")
        val ord = dir.resolve("fct_orders")
        val view = dir.resolve("view_stats")
        try {
          val cTrue = Tables.customer(s, d).select(col("c_custkey"),
            col("c_mktsegment"),
            floor(dec(col("c_acctbal"))).cast("double").as("c_bal"))
          val oTrue = Tables.orders(s, d)
            .filter(col("o_orderkey") % 3 === 0)
            .select(col("o_orderkey"), col("o_custkey"),
              floor(dec(col("o_totalprice"))).cast("double").as("o_price"))
          def stamp(df: DataFrame) = df
            .withColumn("loaded_at", lit(null).cast("timestamp"))
            .withColumn("last_upd_at", lit(null).cast("timestamp"))
          def loadCust(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(cust, stamp(df),
              pk = Seq("c_custkey"), tracked = Seq("c_mktsegment", "c_bal"),
              runTs = lit(ts).cast("timestamp"), nParts = 4, keepVersions = 4)
          def loadOrd(df: DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(ord, stamp(df),
              pk = Seq("o_orderkey"), tracked = Seq("o_custkey", "o_price"),
              runTs = lit(ts).cast("timestamp"), nParts = 4, keepVersions = 4)
          val sides = Seq(MatViews.StarSide(ord, Seq("o_orderkey")),
            MatViews.StarSide(cust, Seq("c_custkey")))
          val jks = Seq("o_custkey" -> "c_custkey")
          def maintain() = MatViews.maintainStar(s, sides, view,
            joinKeys = jks, keys = Seq("c_mktsegment"),
            sums = Map("o_price" -> "sum_p"),
            counts = Map("o_price" -> "cnt_p"),
            sumsqs = Map("o_price" -> "ssq_p"),
            covs = Map("pb" -> ("o_price", "c_bal")), keepVersions = 2)
          // churned bootstrap: %10 customers mis-bucketed into a phantom
          // segment, facts halved, %11 prices shifted up
          loadCust(cTrue.withColumn("c_mktsegment",
            when(col("c_custkey") % 10 === 0, lit("MISBUCKET"))
              .otherwise(col("c_mktsegment"))), CutoffTs)
          loadOrd(oTrue.filter(col("o_orderkey") % 2 === 0)
            .withColumn("o_price",
              when(col("o_orderkey") % 11 === 0, col("o_price") + 50000.0)
                .otherwise(col("o_price"))), CutoffTs)
          maintain()
          // truth: re-bucketed customers move their orders' moments
          // between segments; the fact takedown retracts exact terms
          loadCust(cTrue, RunTs)
          loadOrd(oTrue, RunTs)
          MergeOps.prunedDelete(ord,
            oTrue.select(col("o_orderkey")).filter(col("o_orderkey") % 13 === 0),
            pk = Seq("o_orderkey"), nParts = 4, keepVersions = 4)
          maintain()
          Storage.compact(s, cust)
          Storage.compact(s, ord)
          maintain()
          MatViews.registerStarRewrite(s, "mv18", Seq(ord, cust), view,
            joinKeys = jks, keys = Seq("c_mktsegment"),
            sums = Map("o_price" -> "sum_p"),
            counts = Map("o_price" -> "cnt_p"),
            sumsqs = Map("o_price" -> "ssq_p"),
            covs = Map("pb" -> ("o_price", "c_bal")))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MatViewJoinRewrite
          try {
            val q = Storage.readPartitionedVersion(s, ord)
              .join(Storage.readPartitionedVersion(s, cust),
                col("o_custkey") === col("c_custkey"))
              .groupBy(col("c_mktsegment"))
              .agg(count(lit(1)).as("cnt"),
                round(stddev_samp(col("o_price")), 6).as("sd_p"),
                round(var_pop(col("o_price")), 4).as("vp_p"),
                round(corr(col("o_price"), col("c_bal")), 6).as("r_pb"),
                round(covar_samp(col("o_price"), col("c_bal")), 4).as("cs_pb"))
            val scans = q.queryExecution.optimizedPlan.collect {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case _ => Nil
                }
            }.flatten
            require(scans.exists(_.contains(view.toString)) &&
                !scans.exists(p => p.contains(ord.toString) ||
                  p.contains(cust.toString)),
              s"star stat panel was not navigated onto the view: $scans")
            q.localCheckpoint()
          } finally {
            s.experimental.extraOptimizations =
              s.experimental.extraOptimizations.filterNot(_ eq MatViewJoinRewrite)
            MatView.drop("mv18")
          }
        } finally Storage.deleteRecursively(dir)
      },
      Some("""WITH o AS (SELECT o_custkey,
             |    CAST(FLOOR(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             |      AS o_price
             |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 13 <> 0),
             |c AS (SELECT c_custkey, c_mktsegment,
             |    CAST(FLOOR(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
             |      AS c_bal
             |  FROM customer),
             |j AS (SELECT c_mktsegment, o_price, c_bal
             |  FROM o JOIN c ON o_custkey = c_custkey)
             |SELECT c_mktsegment, count(*) AS cnt,
             |       round(stddev_samp(o_price), 6) AS sd_p,
             |       round(var_pop(o_price), 4) AS vp_p,
             |       round(corr(o_price, c_bal), 6) AS r_pb,
             |       round(covar_samp(o_price, c_bal), 4) AS cs_pb
             |FROM j GROUP BY c_mktsegment""".stripMargin),
      harness = true),

    // ATOMIC workspace+view publish: a transaction's base tables AND its
    // maintained views land in ONE manifest (MatViews.workspaceCommitWith
    // Views — member commits through the table CAS logs, every cataloged
    // view rolled to exactly those versions, one atomic manifest create),
    // so a snapshot reader can never observe a base ahead of its views.
    // The row reads the VIEW as of BOTH manifests through the pinned path
    // and hash-matches each against the relational aggregate of that
    // manifest's base content — generation 1 (evens-only) stays coherent
    // after generation 2 (full) publishes. The REQUIRE asserts both
    // manifests pin the base+view pair. At 100 TB: refresh five marts and
    // their dashboards' views in one metadata commit, no stale-pair
    // window for any reader.
    Q("txn3_atomic_view_publish",
      (s, d) => {
        import graft.ops.{MatViews, Workspace}
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
        val ws = java.nio.file.Files.createTempDirectory("ws_txn3")
        try {
          val ev = Tables.events(s, d).select(col("event_id"),
            col("event_type"), dec(col("value")).as("value"))
          MatViews.defineView(ws, MatViews.CatalogEntry(
            name = "facts_by_type", kind = "single",
            view = ws.resolve("facts_by_type").toString,
            keys = Seq("event_type"), base = ws.resolve("facts").toString,
            pk = Seq("event_id"), sums = Map("value" -> "sum_value"),
            keepVersions = 8))
          val (m0, _) = MatViews.workspaceCommitWithViews(s, ws, ws,
            writes = Map("facts" -> ev.filter(col("event_id") % 2 === 0)),
            keepVersions = 8)
          val (m1, _) = MatViews.workspaceCommitWithViews(s, ws, ws,
            writes = Map("facts" -> ev), keepVersions = 8)
          require(m1 == m0 + 1 &&
            Workspace.snapshotAt(ws, m0).keySet == Set("facts", "facts_by_type") &&
            Workspace.snapshotAt(ws, m1).keySet == Set("facts", "facts_by_type"),
            "each manifest must pin the base AND its view atomically")
          def viewAsOf(m: Long, label: Int): DataFrame = {
            val pins = Workspace.snapshotAt(ws, m)
            Workspace.readPinned(s, ws, "facts_by_type", pins("facts_by_type"))
              .select(lit(label).as("asof"), col("event_type"),
                col("count_rows"), col("sum_value").cast("double").as("sum_value"))
          }
          viewAsOf(m0, 1).unionByName(viewAsOf(m1, 2)).localCheckpoint()
        } finally graft.ops.Storage.deleteRecursively(ws)
      },
      Some("""WITH e AS (SELECT event_id, event_type,
             |            CAST(value AS DECIMAL(38,6)) AS value FROM events)
             |SELECT 1 AS asof, event_type, count(*) AS count_rows,
             |       CAST(sum(value) AS DOUBLE) AS sum_value
             |FROM e WHERE event_id % 2 = 0 GROUP BY event_type
             |UNION ALL
             |SELECT 2 AS asof, event_type, count(*) AS count_rows,
             |       CAST(sum(value) AS DOUBLE) AS sum_value
             |FROM e GROUP BY event_type""".stripMargin)),

    Q("io5_dv_delta_export",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("iodv")
        val table = dir.resolve("cust")
        try {
          val cust = Tables.customer(s, d)
            .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
            .withColumn("loaded_at", lit(null).cast("timestamp"))
            .withColumn("last_upd_at", lit(null).cast("timestamp"))
          graft.ops.MergeOps.prunedConditionalUpsert(table, cust,
            pk = Seq("c_custkey"), tracked = Seq("c_name", "c_acctbal"),
            runTs = lit("2024-01-01 00:00:00").cast("timestamp"),
            nParts = 8, keepVersions = 4)
          graft.ops.MergeOps.deleteWithVectors(table,
            Tables.customer(s, d).select(col("c_custkey"))
              .filter(col("c_custkey") % 10 === 0),
            pk = Seq("c_custkey"), nParts = 8, keepVersions = 4)
          graft.ops.DeltaInterop.readTableSnapshot(s, table)
            .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
            .localCheckpoint()
        } finally graft.ops.Storage.deleteRecursively(dir)
      },
      Some("""SELECT c_custkey, c_name, c_acctbal
             |FROM customer WHERE c_custkey % 10 <> 0""".stripMargin)),

    // M7 closed end-to-end by M8: a materialized per-type aggregate is
    // kept fresh by consuming the table's OWN change feed — preimages
    // retract (sign -1), postimages/inserts add (sign +1), applyDelta
    // merges the signed partials — and hash-matches the full recompute of
    // the final snapshot. Total per-run cost: the CDF's changed buckets +
    // |touched groups|, never the table or the history. Sums fold in
    // DECIMAL so incremental == recompute exactly (order-independent);
    // one double cast at the edge per Registry convention.
    Q("m9_cdf_driven_agg",
      (s, d) => withTwoLoadUpsert(s, d) { (table, v0, v1) =>
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
        // the materialized state as of v0 (bootstrap recompute, once)
        val state0 = graft.ops.Storage.readPartitionedVersionAt(s, table, v0)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("count_rows"), sum(dec(col("value"))).as("sum_value"))
        // ...rolled forward by the feed alone
        val cdf = graft.ops.Cdc.changeDataFeed(s, table, v0, v1,
          pk = Seq("user_id"), compareCols = Seq("event_type", "value"),
          preImages = true)
        val sign = when(col("change_type").isin("insert", "update_postimage"), 1)
          .otherwise(-1)
        val deltaAgg = cdf.groupBy(col("event_type"))
          .agg(sum(sign.cast("long")).as("count_rows"),
            sum(sign * dec(col("value"))).as("sum_value"))
        graft.ops.AggMaintain.applyDelta(state0, deltaAgg,
          keys = Seq("event_type"), sumCols = Seq("sum_value"))
          .select(col("event_type"), col("count_rows").as("cnt"),
            col("sum_value").cast("double").as("sum_value"))
      },
      Some(s"""SELECT event_type, count(*) AS cnt,
             |       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
             |FROM (SELECT event_type, value,
             |        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             |      FROM events) t
             |WHERE rn = 1 GROUP BY event_type""".stripMargin)),

    // Row-level DELETE at scale — the takedown/GDPR operation a training
    // corpus cannot avoid: remove the named keys touching ONLY the buckets
    // that contain them (survivors rewrite, emptied buckets drop
    // explicitly, the rest carries by manifest reference). Oracle = the
    // upsert state minus the doomed keys. The bucket-level pruning and
    // no-op-delete contracts are spec-covered in CdfSpec.
    Q("m10_pruned_delete",
      (s, d) => withTwoLoadUpsert(s, d) { (table, _, _) =>
        val doomed = Tables.events(s, d).select(col("user_id")).distinct()
          .filter(col("user_id") % 7 === 0)
        MergeOps.prunedDelete(table, doomed, pk = Seq("user_id"), nParts = 16)
        upsertStateCols(
          graft.ops.Storage.readPartitionedVersion(s, table).drop("pbucket"))
      },
      Some(s"SELECT * FROM ($UpsertStateOracle\n) z WHERE z.user_id % 7 <> 0")),

    // M10's takedown, MERGE-ON-READ: the same doomed keys committed as
    // O(k) deletion-vector descriptors in the Delta log — zero data files
    // rewritten (DeletionVectorSpec asserts the version dir holds no partition
    // dirs) — and read back THROUGH the tombstone-subtracting path. The
    // oracle is m10's, verbatim: a reader cannot tell tombstoned from
    // rewritten, which is the whole contract. Compaction (materializing
    // the vector back to clean bytes) is spec-covered.
    Q("m10b_deletion_vectors",
      (s, d) => withTwoLoadUpsert(s, d) { (table, _, _) =>
        val doomed = Tables.events(s, d).select(col("user_id")).distinct()
          .filter(col("user_id") % 7 === 0)
        MergeOps.deleteWithVectors(table, doomed, pk = Seq("user_id"), nParts = 16)
        upsertStateCols(
          graft.ops.Storage.readPartitionedVersion(s, table).drop("pbucket"))
      },
      Some(s"SELECT * FROM ($UpsertStateOracle\n) z WHERE z.user_id % 7 <> 0")),

    // M3/M5 — SCD2 version history from a change log: consecutive-dup drop,
    // valid_from/valid_to chaining, is_current, deterministic version numbers
    // (ref: dwh_dim_character.py:49-118 collapsed into one declarative pass).
    Q("m3_scd2_changelog",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
            col("event_id"), col("event_type"))
        Scd2.fromChangeLog(ev, "user_id", "ts", Seq("event_type"), Seq("event_id"))
          .select(col("user_id"), col("event_type"),
            epochS(col("valid_from")).as("vf_epoch"),
            epochS(col("valid_to")).as("vt_epoch"),
            col("is_current"), col("version"))
      },
      Some(s"""WITH e AS (SELECT user_id, ts, event_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn0
             |  FROM events),
             |c AS (SELECT user_id, ts, event_id, event_type FROM e
             |      WHERE rn0 = 1 OR prev IS DISTINCT FROM event_type),
             |v AS (SELECT user_id, event_type, ts AS vf,
             |        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt,
             |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
             |      FROM c)
             |SELECT user_id, event_type,
             |  ${epochSql("vf")} AS vf_epoch,
             |  coalesce(${epochSql("vt")}, ${Registry.InfinityEpoch}) AS vt_epoch,
             |  (vt IS NULL) AS is_current, version
             |FROM v""".stripMargin)),

    // Temporal (point-in-time) fact enrichment — THE warehouse temporal
    // join: every event picks up the dimension version valid AT ITS OWN
    // time. Shape: equi-join on the KEY with the interval as a filter —
    // never an inequality-only join (which would plan a nested loop);
    // per-key version counts are small, so the hash join fan-out is
    // bounded. Interval comparisons happen at the engine's native
    // microsecond timestamps; the oracle compares epoch_ns // 1000 so
    // both engines test the identical predicate (the fixture's
    // timestamps carry sub-second parts).
    Q("j7_pit_enrichment",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
            col("event_id"), col("event_type"))
        val dim = Scd2.fromChangeLog(ev, "user_id", "ts", Seq("event_type"), Seq("event_id"))
        ev.join(dim.select(col("user_id"), col("event_type").as("state_at_event"),
            col("valid_from"), col("valid_to"), col("version")), Seq("user_id"))
          .filter(col("valid_from") <= col("ts") && col("ts") < col("valid_to"))
          .select(col("event_id"), col("user_id"),
            epochS(col("ts")).as("ts_epoch"), col("state_at_event"), col("version"))
      },
      Some(s"""WITH e0 AS (SELECT user_id, ts, event_id, event_type,
             |    epoch_ns(ts) // 1000 AS us FROM events),
             |e AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
             |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn0
             |      FROM e0),
             |c AS (SELECT user_id, ts, us, event_id, event_type FROM e
             |      WHERE rn0 = 1 OR prev IS DISTINCT FROM event_type),
             |v AS (SELECT user_id, event_type, us AS vf_us,
             |        lead(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt_us,
             |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
             |      FROM c)
             |SELECT e0.event_id, e0.user_id, ${epochSql("e0.ts")} AS ts_epoch,
             |  v.event_type AS state_at_event, CAST(v.version AS BIGINT) AS version
             |FROM e0 JOIN v ON e0.user_id = v.user_id
             |  AND v.vf_us <= e0.us AND (v.vt_us IS NULL OR e0.us < v.vt_us)""".stripMargin)),

    // SCD2 point-in-time lookup — the consumer side of the dimension: the
    // state of every entity AS OF the cutoff (valid_from ≤ T < valid_to),
    // i.e. time travel over the version history the loads maintain.
    Q("pit1_dim_as_of_cutoff",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
            col("event_id"), col("event_type"))
        Scd2.fromChangeLog(ev, "user_id", "ts", Seq("event_type"), Seq("event_id"))
          .filter(col("valid_from") <= lit(CutoffTs).cast("timestamp") &&
            lit(CutoffTs).cast("timestamp") < col("valid_to"))
          .select(col("user_id"), col("event_type"),
            epochS(col("valid_from")).as("vf_epoch"))
      },
      Some(s"""WITH e AS (SELECT user_id, ts, event_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn0
             |  FROM events),
             |c AS (SELECT user_id, ts, event_id, event_type FROM e
             |      WHERE rn0 = 1 OR prev IS DISTINCT FROM event_type),
             |v AS (SELECT user_id, event_type, ts AS vf,
             |        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
             |      FROM c)
             |SELECT user_id, event_type, ${epochSql("vf")} AS vf_epoch
             |FROM v
             |WHERE vf <= TIMESTAMP '$CutoffTs'
             |  AND (vt IS NULL OR TIMESTAMP '$CutoffTs' < vt)""".stripMargin)),

    // M3 batch form — close-and-insert against an existing dimension
    // (ref: dwh_dim_character.py:55-114, UPDATE+INSERT transaction → one pass).
    Q("m3_scd2_close_insert",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
            col("event_id"), col("event_type"))
        // localCheckpoint: closeAndInsert fans the dim into four branches
        // (history, kept, closed, max-SK action); without materializing,
        // the change-log windows re-run per branch. In a real pipeline the
        // dim comes off parquet and rescans are already cheap.
        val dim0 = Scd2.withGlobalSk(
          Scd2.fromChangeLog(
            ev.filter(col("ts") < lit(CutoffTs).cast("timestamp")),
            "user_id", "ts", Seq("event_type"), Seq("event_id")),
          "user_id", "sk")
          .select(col("user_id"), col("event_type"), col("sk"),
            col("valid_from"), col("valid_to"), col("is_current"))
          .localCheckpoint()
        val stg = MergeOps.latestByKey(ev, Seq("user_id"), Seq(col("ts"), col("event_id")))
          .select(col("user_id"), col("event_type"))
        Scd2.closeAndInsert(dim0, stg, "user_id", Seq("event_type"),
          lit(RunTs).cast("timestamp"), "sk")
          .select(col("user_id"), col("event_type"),
            epochS(col("valid_from")).as("vf_epoch"),
            epochS(col("valid_to")).as("vt_epoch"),
            col("is_current"))
      },
      Some(s"""WITH e AS (SELECT user_id, ts, event_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn0
             |  FROM events WHERE ts < TIMESTAMP '$CutoffTs'),
             |c AS (SELECT user_id, ts, event_id, event_type FROM e
             |      WHERE rn0 = 1 OR prev IS DISTINCT FROM event_type),
             |dim0 AS (SELECT user_id, event_type, ts AS vf,
             |        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
             |      FROM c),
             |stg AS (SELECT user_id, event_type FROM (
             |    SELECT user_id, event_type,
             |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             |    FROM events) t WHERE rn = 1),
             |hist AS (SELECT user_id, event_type, vf, vt FROM dim0 WHERE vt IS NOT NULL),
             |cur AS (SELECT user_id, event_type, vf FROM dim0 WHERE vt IS NULL),
             |kept AS (SELECT c.user_id, c.event_type, c.vf, NULL::TIMESTAMP AS vt, TRUE AS is_current
             |  FROM cur c LEFT JOIN stg s ON c.user_id = s.user_id
             |  WHERE s.user_id IS NULL OR c.event_type IS NOT DISTINCT FROM s.event_type),
             |closed AS (SELECT c.user_id, c.event_type, c.vf, TIMESTAMP '$RunTs' AS vt, FALSE AS is_current
             |  FROM cur c JOIN stg s ON c.user_id = s.user_id
             |  WHERE c.event_type IS DISTINCT FROM s.event_type),
             |opened AS (SELECT s.user_id, s.event_type, TIMESTAMP '$RunTs' AS vf, NULL::TIMESTAMP AS vt, TRUE AS is_current
             |  FROM stg s LEFT JOIN cur c ON c.user_id = s.user_id
             |  WHERE c.user_id IS NULL OR c.event_type IS DISTINCT FROM s.event_type),
             |unioned AS (
             |  SELECT user_id, event_type, vf, vt, FALSE AS is_current FROM hist
             |  UNION ALL SELECT * FROM kept
             |  UNION ALL SELECT * FROM closed
             |  UNION ALL SELECT * FROM opened)
             |SELECT user_id, event_type,
             |  ${epochSql("vf")} AS vf_epoch,
             |  coalesce(${epochSql("vt")}, ${Registry.InfinityEpoch}) AS vt_epoch,
             |  is_current
             |FROM unioned""".stripMargin)),

    // M5 — deterministic surrogate key assignment (SERIAL → row_number;
    // ref: configure.py:200).
    Q("m5_surrogate_keys",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        Tables.customer(s, d).select(
          col("c_custkey"), col("c_name"), col("c_nationkey"),
          row_number().over(Window.orderBy(col("c_custkey"))).cast("long").as("sk"))
      },
      Some("""SELECT c_custkey, c_name, c_nationkey,
             |       CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS sk
             |FROM customer""".stripMargin)),

    // M5 scale path: identical keys to m5_surrogate_keys but assigned
    // WITHOUT a global sort — range partitions + per-partition row
    // numbers + O(partitions) driver-side offsets (Scd2.withScalableSk).
    // The oracle is the plain global row_number: the equivalence IS the
    // point (same dense keys, parallel plan).
    Q("m5b_scalable_sk",
      (s, d) => {
        val dim = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
        graft.ops.Scd2.withScalableSk(dim, Seq("c_custkey"), partitions = 8)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("sk"))
      },
      Some("""SELECT c_custkey, c_name, c_nationkey,
             |       CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS sk
             |FROM customer""".stripMargin)),

    // M6 — CDC changelog application (the M-family extended with DELETES;
    // Debezium/Delta-CDF-style ordered upsert+delete rolling a snapshot
    // forward). Changelog synthesized from orders: per customer the
    // highest o_orderkey decides (op D when that key % 7 = 0, else U with
    // the order's payload). Per-key latest-op via max_by (map-side
    // combinable — ops.Cdc scale notes), then ONE full-outer join with
    // the base snapshot.
    Q("m6_cdc_apply",
      (s, d) => {
        val base = Tables.customer(s, d).select(
          col("c_custkey"), col("c_name"),
          Registry.money(col("c_acctbal")).as("bal"))
        val changes = Tables.orders(s, d).select(
          col("o_custkey").as("c_custkey"),
          col("o_orderkey").as("seq"),
          when(col("o_orderkey") % 7 === 0, "D").otherwise("U").as("op"),
          concat(lit("cust-upd-"), col("o_custkey")).as("c_name"),
          Registry.money(col("o_totalprice")).as("bal"))
        graft.ops.Cdc.applyChangelog(base, changes,
            pk = Seq("c_custkey"), seqCol = "seq", opCol = "op",
            payloadCols = Seq("c_name", "bal"))
          .select(col("c_custkey"), col("c_name"),
            col("bal").cast("double").as("balance"))
      },
      Some("""WITH ch AS (SELECT o_custkey AS c_custkey, o_orderkey AS seq,
             |        CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op,
             |        concat('cust-upd-', o_custkey) AS c_name,
             |        CAST(o_totalprice AS DECIMAL(14,2)) AS bal
             |      FROM orders),
             |latest AS (SELECT c_custkey, op, c_name, bal FROM (
             |        SELECT ch.*, row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
             |        FROM ch) WHERE rn = 1),
             |b AS (SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(14,2)) AS bal FROM customer)
             |SELECT COALESCE(l.c_custkey, b.c_custkey) AS c_custkey,
             |  CASE WHEN l.op IS NOT NULL THEN l.c_name ELSE b.c_name END AS c_name,
             |  CAST(CAST(CASE WHEN l.op IS NOT NULL THEN l.bal ELSE b.bal END AS VARCHAR) AS DOUBLE) AS balance
             |FROM b FULL OUTER JOIN latest l ON b.c_custkey = l.c_custkey
             |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin)),

    // M7 — incremental aggregate-table maintenance: a materialized hourly
    // rollup built from the first 20 days of events rolls FORWARD by the
    // remaining days' delta (pre-aggregated, then one full-outer key
    // join — ops.AggMaintain scale notes: O(delta + touched keys), never
    // a history rescan). The oracle recomputes the rollup from the whole
    // log — incremental-vs-recompute equivalence is the hash check.
    Q("m7_incremental_agg",
      (s, d) => {
        val ev = Tables.events(s, d).select(
          Registry.epochS(date_trunc("hour", col("ts"))).as("hour_epoch"),
          col("event_type"), col("value"), col("ts"))
        val cutoff = lit("2024-01-21 00:00:00").cast("timestamp")
        def rollup(df: org.apache.spark.sql.DataFrame) =
          graft.ops.AggMaintain.deltaAggregates(df.drop("ts"),
            Seq("hour_epoch", "event_type"),
            sums = Map("sum_value" -> col("value").cast("decimal(18,2)")),
            mins = Map("min_value" -> col("value")),
            maxs = Map("max_value" -> col("value")))
        val state = rollup(ev.filter(col("ts") < cutoff))
        val delta = rollup(ev.filter(col("ts") >= cutoff))
        // keys derive from non-null ts/event_type → plain-equality join,
        // which REUSES the two rollups' hash partitioning (null-safe <=>
        // would re-shuffle both sides on coalesced key tuples)
        graft.ops.AggMaintain.applyDelta(state, delta,
            Seq("hour_epoch", "event_type"),
            sumCols = Seq("sum_value"),
            minCols = Seq("min_value"), maxCols = Seq("max_value"),
            assumeKeysNonNull = true)
          .select(col("hour_epoch"), col("event_type"), col("count_rows"),
            col("sum_value").cast("double").as("sum_value"),
            col("min_value"), col("max_value"))
      },
      Some(s"""SELECT ${Registry.epochSql("date_trunc('hour', ts)")} AS hour_epoch, event_type,
             |  COUNT(*) AS count_rows,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |  MIN(value) AS min_value, MAX(value) AS max_value
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // Cross-table incremental view maintenance — a materialized JOIN view
    // (per-nation revenue over orders ⋈ customer) rolled forward from BOTH
    // tables' change feeds via the delta-join rule Δ(A⋈B) = ΔA⋈B₁ ∪ A₀⋈ΔB
    // (ViewMaintain.joinDelta), the signed joined rows folded into the
    // aggregate state by AggMaintain.applyDelta. Generalizes m7 (own-table
    // deltas) and m9 (own-table CDF): here the view's BASE is a join, and
    // a refresh never recomputes it — each delta term joins one broadcast
    // change feed against one base table, so per refresh the work is
    // O(|ΔA| + |ΔB| + touched groups), never |orders|. The interval
    // exercises every feed shape at once: inserts on both sides, updates
    // including GROUP-KEY moves (c_nationkey changes retract from the old
    // nation and add to the new), and fact-side deletes. Hash-matches the
    // full recompute of the final state (the oracle). Mirrors the
    // reference's hand-rolled incremental fact joins
    // (dwh_fact_character_episode.py:102-107) as a general operator.
    Q("m11_join_view_maintenance",
      (s, d) => withJoinViewTables(s, d) { (cust, cv0, cv1, ord, ov0, ovF) =>
        import graft.ops.{Cdc, Storage, ViewMaintain}
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
        def custAt(v: Long) = Storage.readPartitionedVersionAt(s, cust, v)
          .select(col("c_custkey"), col("c_nationkey"))
        def ordAt(v: Long) = Storage.readPartitionedVersionAt(s, ord, v)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val a0 = custAt(cv0)
        val bNew = ordAt(ovF)
        // materialized state as of (cv0, ov0): the ONE bootstrap recompute
        val state0 = a0.alias("c")
          .join(ordAt(ov0).alias("o"), col("c.c_custkey") === col("o.o_custkey"))
          .groupBy(col("c.c_nationkey").as("c_nationkey"))
          .agg(count(lit(1)).as("count_rows"),
            sum(dec(col("o.o_totalprice"))).as("sum_rev"))
        // …rolled forward by the two change feeds alone
        val dA = ViewMaintain.signed(Cdc.changeDataFeed(s, cust, cv0, cv1,
          pk = Seq("c_custkey"), compareCols = Seq("c_nationkey"), preImages = true))
        val dB = ViewMaintain.signed(Cdc.changeDataFeed(s, ord, ov0, ovF,
          pk = Seq("o_orderkey"), compareCols = Seq("o_custkey", "o_totalprice"),
          preImages = true))
        // this fixture's orders feed is a bulk backfill (the bootstrap holds
        // only even o_orderkey rows, so the feed carries well over half the
        // fact table) — exactly the case joinDelta's contract says NOT to
        // broadcast; a routine refresh with a genuinely small feed would
        // keep the default broadcastDeltas=true
        val viewDelta = ViewMaintain.joinDelta(a0, dA, bNew, dB,
          keysA = Seq("c_custkey"), keysB = Seq("o_custkey"),
          broadcastDeltas = false)
        val deltaAgg = viewDelta.groupBy(col("c_nationkey"))
          .agg(sum(col("sign").cast("long")).as("count_rows"),
            sum(col("sign") * dec(col("o_totalprice"))).as("sum_rev"))
        graft.ops.AggMaintain.applyDelta(state0, deltaAgg,
            keys = Seq("c_nationkey"), sumCols = Seq("sum_rev"),
            assumeKeysNonNull = true)
          .select(col("c_nationkey"), col("count_rows").as("cnt"),
            col("sum_rev").cast("double").as("sum_rev"))
      },
      Some("""SELECT c_nationkey, count(*) AS cnt,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_rev
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_orderkey % 13 <> 0
             |GROUP BY c_nationkey""".stripMargin),
      harness = true),

    // m11's CONTINUOUS form: the same two-table view maintained by a real
    // Structured Streaming query consuming the MERGED commit-log tail of
    // both base tables — bootstrap join once, then four micro-batches
    // (customer interval / orders restore / orders delete / duplicate
    // redelivery) each roll the view forward by the delta-join rule from
    // the change feeds alone. The applied (vA, vB) pair commits WITH the
    // view, so the duplicate batch provably applies nothing. Final state
    // hash-matches m11's oracle — five chained increments across two
    // tables lose nothing. Per batch at 100 TB: the feeds' changed
    // buckets + touched groups; neither base is rescanned after bootstrap.
    Q("stream8_join_view_maintenance",
      (s, d) => withJoinViewTables(s, d) { (cust, cv0, cv1, ord, ov0, ovF) =>
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import org.apache.spark.sql.streaming.Trigger
        implicit val sqlCtx = s.sqlContext
        val dir = java.nio.file.Files.createTempDirectory("stream8_view")
        val view = dir.resolve("rev_by_nation")
        try {
          def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
          val input = MemoryStream[(String, Long)]
          val q = graft.streaming.StreamingLoads.foreachBatchJoinViewMaintain(
            input.toDF().toDF("tbl", "v"), cust, ord, view,
            pkA = Seq("c_custkey"), compareA = Seq("c_nationkey"),
            pkB = Seq("o_orderkey"), compareB = Seq("o_custkey", "o_totalprice"),
            joinKeysA = Seq("c_custkey"), joinKeysB = Seq("o_custkey"),
            groupKeys = Seq("c_nationkey"),
            sums = Map("sum_rev" -> dec(col("o_totalprice"))),
            trigger = Trigger.ProcessingTime(0)).start()
          try {
            input.addData(("a", cv0), ("b", ov0)); q.processAllAvailable()
            input.addData(("a", cv1)); q.processAllAvailable()
            input.addData(("b", ovF - 1)); q.processAllAvailable()
            input.addData(("b", ovF)); q.processAllAvailable()
            input.addData(("a", cv1), ("b", ovF)); q.processAllAvailable()
          } finally q.stop()
          graft.ops.Storage.readVersion(s, view)
            .select(col("c_nationkey"), col("count_rows").as("cnt"),
              col("sum_rev").cast("double").as("sum_rev"))
            .localCheckpoint()
        } finally graft.ops.Storage.deleteRecursively(dir)
      },
      Some("""SELECT c_nationkey, count(*) AS cnt,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_rev
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_orderkey % 13 <> 0
             |GROUP BY c_nationkey""".stripMargin),
      harness = true))
}
