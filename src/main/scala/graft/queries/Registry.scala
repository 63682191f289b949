package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One named, oracle-checked query. `oracle` is equivalent ANSI-ish SQL that
  * DuckDB runs over the same parquet tables; None → the driver records a
  * weaker rows-only check (used for ops whose hashing primitives aren't
  * portable to DuckDB, e.g. minhash banding).
  *
  * `harness` marks rows whose time is mostly fixture CONSTRUCTION, not the
  * operator under test: structured-streaming micro-batch replays, multi-load
  * churn + view maintenance + compaction replays, and ANN/dedup index
  * (re)builds — costs a real deployment amortizes. Bench reports them apart
  * from the core rows so the core mean sec/query stays auditable.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    harness: Boolean = false)

object Registry {

  /** Determinism conventions shared by every query and its oracle
    * (SURVEY.md §5.2, §7.5):
    *  - money/value aggregates fold in DECIMAL (exact, order-independent),
    *    then one cast to DOUBLE → bit-identical on both engines;
    *  - timestamps leave the query as second-truncated epoch BIGINTs;
    *  - every ranking has a total ordering (explicit tie-break columns);
    *  - the SCD2 open-interval sentinel is 9999-12-31 23:59:59 UTC
    *    (epoch 253402300799).
    */
  def all: Seq[Q] =
    CoreQueries.all ++ MartQueries.all ++ TextQueries.all ++ CorpusQueries.all ++
      DomainPipeline.all ++ StreamingQueries.all

  // ---- shared helpers ----

  /** Second-truncated epoch; cast through TIMESTAMP so TIMESTAMP_NTZ parquet
    * columns behave identically under the UTC session. */
  def epochS(c: Column): Column = unix_timestamp(c.cast("timestamp"))

  /** Oracle-side twin of [[epochS]]. */
  def epochSql(expr: String): String =
    s"CAST(epoch(date_trunc('second', $expr)) AS BIGINT)"

  /** Money columns: exact 2-decimal values stored as double. */
  def money(c: Column): Column = c.cast("decimal(14,2)")

  val InfinityEpoch = 253402300799L

  /** Gap-1800s sessionization oracle — shared VERBATIM by e1 (the batch
    * query) and stream3 (the stateful-streaming replay): the stream≡batch
    * equivalence claim is only as strong as the two rows checking against
    * the IDENTICAL SQL, so there is exactly one copy. */
  val SessionizeOracleSql: String =
    s"""WITH e AS (SELECT user_id, event_id, ${epochSql("ts")} AS es FROM events),
       |g AS (SELECT user_id, event_id, es,
       |        lag(es) OVER (PARTITION BY user_id ORDER BY es, event_id) AS prev_es
       |      FROM e),
       |f AS (SELECT user_id, es,
       |        SUM(CASE WHEN prev_es IS NULL OR es - prev_es > 1800 THEN 1 ELSE 0 END)
       |          OVER (PARTITION BY user_id ORDER BY es, event_id
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |      FROM g)
       |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       |  COUNT(*) AS n_events, MIN(es) AS session_start_epoch
       |FROM f GROUP BY 1, 2""".stripMargin
}
