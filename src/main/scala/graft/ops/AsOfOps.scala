package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** As-of (temporal) join — an operator Spark lacks natively.
  *
  * Implementation is the scalable union-and-carry pattern rather than
  * a range join: tag left and right rows, sort each key's timeline
  * once, and carry the latest right payload forward with a running
  * `last(ignoreNulls)` window. One shuffle on the key, one sort — no
  * O(|L|·|R|) range-join blowup, no per-row probe; this is the shape
  * that survives 100 TB timelines. Tie rule matches DuckDB's ASOF
  * (inclusive: a right row at exactly the left timestamp matches), so
  * the oracle uses DuckDB's native ASOF LEFT JOIN.
  */
object AsOfOps {

  /** Left as-of join: for each left row, the latest right row with
    * `rightTs <= leftTs` on the same key. Right payload columns come
    * back null when no prior right row exists.
    *
    * `tieBreak` (a right column, e.g. an event id) makes the pick
    * among right rows sharing the same (key, ts) deterministic: the
    * row with the LARGEST tieBreak value wins. Without it, two right
    * rows at the same timestamp make `last()` partitioning-dependent
    * — invisible at one SF, a hash mismatch at another. */
  def leftAsOf(left: DataFrame, right: DataFrame, key: String, ts: String,
      rightPayload: Seq[String], tieBreak: Option[String] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    val payloadType = right
      .select(struct(rightPayload.map(col): _*).as("p")).schema("p").dataType
    val tieType = tieBreak.map(t => right.schema(t).dataType)
      .getOrElse(org.apache.spark.sql.types.IntegerType)
    val l = left.select((leftCols.map(col) :+ lit(1).as("__side")
      :+ lit(null).cast(payloadType).as("__payload")
      :+ lit(null).cast(tieType).as("__tie")): _*)
    val r = right.select(col(key), col(ts), lit(0).as("__side"),
      struct(rightPayload.map(col): _*).as("__payload"),
      tieBreak.map(col).getOrElse(lit(null).cast(tieType)).as("__tie"))
    // align schemas: left keeps all its columns; right contributes
    // only key/ts/payload with nulls elsewhere
    val rAligned = leftCols.foldLeft(r) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }.select((leftCols.map(col) :+ col("__side") :+ col("__payload")
      :+ col("__tie")): _*)
    val union = l.unionByName(rAligned)
    // at equal ts, right rows (side 0) sort first → visible to the
    // left row's window = inclusive as-of, DuckDB's default; among
    // tied right rows, ascending __tie means last() picks the max
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    union
      .withColumn("__asof", last(col("__payload"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .drop("__side", "__payload", "__tie")
  }

  /** Declared query: for every non-purchase event, the same user's
    * most recent purchase at or before the event. */
  def eventAsOfPurchase(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val nonPurchase = ev.where(col("event_type") =!= "purchase")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    leftAsOf(nonPurchase, purchases, "user_id", "ts",
        Seq("event_id", "value", "ts"), tieBreak = Some("event_id"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"),
        col("__asof.event_id").as("purchase_event_id"),
        col("__asof.value").as("purchase_value"),
        unix_millis(col("__asof.ts")).as("purchase_ts_ms"))
      .orderBy("event_id")
  }

  // the right side is deduped to the max-event_id purchase per
  // (user_id, ts) before the ASOF — DuckDB's ASOF pick among tied
  // timestamps is unspecified, and the Spark window's tie-break
  // (ascending event_id, last() wins) selects exactly that row
  def eventAsOfPurchaseSql: String =
    s"""SELECT e.event_id, e.user_id, e.event_type, epoch_ms(e.ts) AS ts_ms,
      |  p.event_id AS purchase_event_id,
      |  p.value AS purchase_value,
      |  epoch_ms(p.ts) AS purchase_ts_ms
      |FROM (SELECT * FROM events WHERE event_type <> 'purchase') e
      |ASOF LEFT JOIN (${OpsUtil.topKSql(
        "(SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase')",
        "user_id, ts", "event_id DESC", 1, "rn")}) p
      |  ON e.user_id = p.user_id AND e.ts >= p.ts
      |ORDER BY e.event_id""".stripMargin

  /** NEAREST-neighbor temporal join — the bidirectional as-of
    * ([[leftAsOf]] is backward-only): for every purchase, the click
    * closest in time either direction, built as TWO as-of passes —
    * backward as-is, forward by running the SAME union-and-carry
    * operator on the negated time axis — then one per-row argmin.
    * Still two shuffles and two sorts total, no range join, the
    * 100 TB shape. Tie rules, everywhere deterministic: an
    * exactly-simultaneous click counts backward (Δ = 0 wins the
    * argmin); among clicks sharing a timestamp, max event_id. Deltas
    * are exact µs integers. */
  def nearestClick(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val b = leftAsOf(p, c, "user_id", "ts", Seq("event_id", "ts"),
        tieBreak = Some("event_id"))
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("__asof.event_id").as("b_id"),
        unix_micros(col("__asof.ts")).as("b_us"))
    val pN = p.withColumn("nus", -unix_micros(col("ts")))
    val cN = c.select(col("user_id"), (-unix_micros(col("ts"))).as("nus"),
      col("event_id"), unix_micros(col("ts")).as("cus"))
    val f = leftAsOf(pN, cN, "user_id", "nus", Seq("event_id", "cus"),
        tieBreak = Some("event_id"))
      .select(col("event_id"), col("__asof.event_id").as("f_id"),
        col("__asof.cus").as("f_us"))
    val backWins = col("us") - col("b_us") <= col("f_us") - col("us")
    b.join(f, Seq("event_id"))
      .select(col("event_id"), col("user_id"),
        when(col("b_id").isNull && col("f_id").isNull, lit("none"))
          .when(col("f_id").isNull, lit("backward"))
          .when(col("b_id").isNull, lit("forward"))
          .when(backWins, lit("backward")).otherwise(lit("forward")).as("direction"),
        when(col("b_id").isNull && col("f_id").isNull, lit(null).cast("long"))
          .when(col("f_id").isNull, col("b_id"))
          .when(col("b_id").isNull, col("f_id"))
          .when(backWins, col("b_id")).otherwise(col("f_id")).as("click_id"),
        when(col("b_id").isNull && col("f_id").isNull, lit(null).cast("long"))
          .when(col("f_id").isNull, col("us") - col("b_us"))
          .when(col("b_id").isNull, col("f_us") - col("us"))
          .when(backWins, col("us") - col("b_us"))
          .otherwise(col("f_us") - col("us")).as("delta_us"))
      .orderBy("event_id")
  }

  // Forward candidates are STRICT (>) here where Spark's negated-axis
  // pass is inclusive (≥) — immaterial by construction: a Δ=0 tie
  // always resolves backward in both engines (Δb=0 wins the ≤ argmin),
  // so the forward pick is only ever consulted at Δf > 0.
  def nearestClickSql: String = {
    // each purchase paired with the clicks on one `side` of it in time
    def clicks(side: String) =
      "(SELECT p.event_id, c.event_id AS rid, c.us AS rus " +
        s"FROM p JOIN c ON c.user_id = p.user_id AND c.us $side p.us)"
    s"""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
      |  WHERE event_type = 'purchase'),
      |c AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
      |  WHERE event_type = 'click'),
      |b AS (${OpsUtil.topKSql(clicks("<="), "event_id", "rus DESC, rid DESC", 1, "rn")}),
      |f AS (${OpsUtil.topKSql(clicks(">"), "event_id", "rus ASC, rid DESC", 1, "rn")})
      |SELECT p.event_id, p.user_id,
      |  CASE WHEN b.rid IS NULL AND f.rid IS NULL THEN 'none'
      |       WHEN f.rid IS NULL THEN 'backward'
      |       WHEN b.rid IS NULL THEN 'forward'
      |       WHEN p.us - b.rus <= f.rus - p.us THEN 'backward'
      |       ELSE 'forward' END AS direction,
      |  CAST(CASE WHEN b.rid IS NULL AND f.rid IS NULL THEN NULL
      |       WHEN f.rid IS NULL THEN b.rid
      |       WHEN b.rid IS NULL THEN f.rid
      |       WHEN p.us - b.rus <= f.rus - p.us THEN b.rid
      |       ELSE f.rid END AS BIGINT) AS click_id,
      |  CAST(CASE WHEN b.rid IS NULL AND f.rid IS NULL THEN NULL
      |       WHEN f.rid IS NULL THEN p.us - b.rus
      |       WHEN b.rid IS NULL THEN f.rus - p.us
      |       WHEN p.us - b.rus <= f.rus - p.us THEN p.us - b.rus
      |       ELSE f.rus - p.us END AS BIGINT) AS delta_us
      |FROM p LEFT JOIN b ON b.event_id = p.event_id
      |       LEFT JOIN f ON f.event_id = p.event_id
      |ORDER BY p.event_id""".stripMargin
  }

  /** Point-in-time (SCD-2) join — the warehouse staple `evt_scd2`
    * builds the history FOR: every purchase joined to the user's
    * status dimension row (runs of non-purchase activity) valid AT
    * purchase time, then aggregated per state. The naive form is a
    * `BETWEEN valid_from AND valid_to` inequality join; this is the
    * same union-and-carry shape as [[eventAsOfPurchase]] — dimension
    * starts and purchases share one per-user timeline, a running
    * `last(ignoreNulls)` carries the active state forward, so the
    * plan is one user-keyed shuffle + sort at ANY dimension size.
    * Inclusive at equal timestamps (status sorts before the purchase
    * via the kind tag); purchases before any status report 'none'. */
  def scd2PitJoin(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    val status = ev.where(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("kind"),
        col("event_type").as("status"), lit(null).cast("double").as("value"))
    val pur = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("kind"),
        lit(null).cast("string").as("status"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    status.unionAll(pur)
      .withColumn("state", last(col("status"), ignoreNulls = true).over(w))
      .where(col("kind") === 1)
      .groupBy(coalesce(col("state"), lit("none")).as("state"))
      .agg(count(lit(1)).as("n_purchases"),
        OpsUtil.dsum(col("value")).as("total_value"))
      .orderBy("state")
  }

  def scd2PitJoinSql: String =
    """WITH tagged AS (
      |  SELECT user_id, ts, event_id, 0 AS kind, event_type AS status,
      |    CAST(NULL AS DOUBLE) AS value
      |  FROM events WHERE event_type <> 'purchase'
      |  UNION ALL
      |  SELECT user_id, ts, event_id, 1, NULL, value
      |  FROM events WHERE event_type = 'purchase'),
      |filled AS (
      |  SELECT *, last_value(status IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, kind, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS state
      |  FROM tagged)
      |SELECT COALESCE(state, 'none') AS state, COUNT(*) AS n_purchases,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM filled WHERE kind = 1 GROUP BY 1 ORDER BY state""".stripMargin
}
