package graft.operators

import graft.functions.HashFunctions.md5Long
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture operators: apply a changelog to a snapshot (MERGE
  * semantics), build slowly-changing-dimension history, and diff two
  * snapshots. These are the incremental-maintenance primitives a 100 TB
  * corpus lake runs daily — a crawl re-visit is a changelog, not a rebuild.
  *
  * Scale posture: every operator here is a key-partitioned shuffle join or
  * window — no driver-side state, no iteration. Latest-change-per-key is a
  * window over the changelog only (the small side); the snapshot join is an
  * equi-join on the primary key, so AQE can pick broadcast when the batch is
  * small and a hash join co-partitioned on the key otherwise. Nothing in the
  * plan depends on snapshot × changelog pair counts.
  *
  * The test changelog is derived deterministically from `orders` (the only
  * timestamped fact stream over a keyed dimension in the corpus): each order
  * is an I/U/D event on its customer, with the op chosen by the cross-engine
  * md5 bucket of the order key so the DuckDB oracle reproduces it exactly.
  */
object Changes {

  /** Op-assignment seed (independent of [[Pipeline.SampleSeed]]). */
  val OpSeed = 11

  /** Hash bucket in [0,100) for an order key — picks the event's op. */
  private def opBucket(c: Column): Column =
    pmod(md5Long(OpSeed, c.cast("string")), lit(100L))

  private def opBucketSql(col: String): String =
    s"CAST('0x' || substr(md5('$OpSeed:' || CAST($col AS VARCHAR)), 1, 15) AS BIGINT) % 100"

  /** Key offset for synthetic inserts — disjoint from every base custkey. */
  val InsertOffset = 1000000L

  /** The derived changelog: one event per order.
    * bucket < 10 → D (delete the customer), < 20 → I (insert a NEW key,
    * custkey + [[InsertOffset]]), else U (update the account balance to the
    * order total). Keyspaces are disjoint by construction: D/U target base
    * keys, I targets offset keys, so latest-wins per final key is
    * unambiguous.
    */
  def changelog(orders: DataFrame): DataFrame = {
    val b = opBucket(col("o_orderkey"))
    orders.select(
      when(b < 10, lit("D")).when(b < 20, lit("I")).otherwise(lit("U")).as("op"),
      when(b >= 10 && b < 20, col("o_custkey") + InsertOffset)
        .otherwise(col("o_custkey")).as("key"),
      col("o_orderdate").as("ts"),
      col("o_orderkey").as("seq"),
      col("o_totalprice").as("new_bal"))
  }

  /** Latest event per key: events are totally ordered by (ts, seq) — seq is
    * the unique order key, so the winner is deterministic even when two
    * orders share a date.
    */
  def latestPerKey(log: DataFrame): DataFrame = {
    val w = Window.partitionBy("key").orderBy(col("ts").desc, col("seq").desc)
    // Pinned key distribution (REPARTITION_BY_NUM): the changelog is
    // byte-light but window-sort heavy, exactly the shape AQE's size-based
    // coalescing runs on one task (profiled: the whole MERGE plan collapsed
    // to single-task stages at sf0.1). Satisfies the window's required
    // distribution, so no extra exchange is planned.
    log.transform(Dedup.spreadKeys("key"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1).drop("rk")
  }

  /** MERGE: apply the latest change per key to the base snapshot.
    * D drops the row, U rewrites the balance (insert-if-missing upsert), I
    * inserts. One window on the changelog + one full-outer equi-join on the
    * key — the standard distributed MERGE plan.
    */
  def applyChangelog(base: DataFrame, log: DataFrame): DataFrame = {
    val latest = latestPerKey(log)
    base.join(latest, base("c_custkey") === latest("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(
        coalesce(col("c_custkey"), col("key")).as("c_custkey"),
        coalesce(col("c_name"), concat(lit("cust#"), col("key"))).as("c_name"),
        when(col("op").isNotNull, col("new_bal")).otherwise(col("c_acctbal")).as("c_acctbal"))
  }

  /** SCD type-2 history of the U events, sorted for the gate output:
    * one window per key over (ts, seq), `valid_to` is the next event's ts.
    */
  private[graft] def scd2History(log: DataFrame): DataFrame = {
    val updates = log.filter(col("op") === "U")
      .transform(Dedup.spreadKeys("key")) // same AQE-coalescing pin as latestPerKey
    val w = Window.partitionBy("key").orderBy(col("ts").asc, col("seq").asc)
    updates.select(
      col("key").as("c_custkey"),
      col("new_bal").as("bal"),
      col("ts").as("valid_from"),
      lead(col("ts"), 1).over(w).as("valid_to"),
      col("seq"))
      .orderBy("c_custkey", "valid_from", "seq")
      .drop("seq")
  }

  /** Snapshot diff: rows only in `newer` → added, only in `older` → removed,
    * in both with a differing payload → changed (unchanged rows are not
    * emitted). Full-outer equi-join on the key; payload comparison is
    * null-safe.
    */
  def snapshotDiff(older: DataFrame, newer: DataFrame, key: String, payload: Seq[String]): DataFrame = {
    val o = older.as("o")
    val n = newer.as("n")
    val changed = payload.map(c => !(col(s"o.$c") <=> col(s"n.$c"))).reduce(_ || _)
    o.join(n, col(s"o.$key") === col(s"n.$key"), "full_outer")
      .select(
        when(col(s"o.$key").isNull, "added")
          .when(col(s"n.$key").isNull, "removed")
          .when(changed, "changed").as("op"),
        coalesce(col(s"o.$key"), col(s"n.$key")).as(key))
      .filter(col("op").isNotNull)
  }

  /** DuckDB twin of [[perturbedDocs]] as a `newer(doc_id, n_chars, lang)`
    * CTE body — ONE definition shared by every oracle that references the
    * perturbed snapshot (cd_snapshot_diff here, dq_drift in Quality), so
    * the Spark perturbation and its SQL mirror cannot drift apart.
    */
  def perturbedDocsSql: String = {
    val b = s"(${Pipeline.bucketSql("doc_id")})"
    s"""SELECT doc_id,
       |    CASE WHEN $b < 10 THEN n_chars + 1000 ELSE n_chars END AS n_chars, lang
       |  FROM documents WHERE $b >= 5
       |  UNION ALL
       |  SELECT doc_id + 10000000 AS doc_id, n_chars, lang FROM documents WHERE $b >= 95""".stripMargin
  }

  /** The "newer" documents snapshot for the diff queries, derived
    * deterministically from the base table: buckets [0,5) deleted, [5,10)
    * get a perturbed n_chars, [95,100) are re-keyed as brand-new docs.
    */
  def perturbedDocs(docs: DataFrame): DataFrame = {
    val b = Pipeline.bucket(col("doc_id"))
    val kept = docs.filter(b >= 5).select(
      col("doc_id"),
      when(b < 10, col("n_chars") + 1000).otherwise(col("n_chars")).as("n_chars"),
      col("lang"))
    val added = docs.filter(b >= 95).select(
      (col("doc_id") + 10000000L).as("doc_id"), col("n_chars"), col("lang"))
    kept.union(added)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // MERGE/upsert: full merged snapshot after applying the order-derived
    // changelog to `customer` with latest-wins conflict resolution.
    "cd_apply_changelog" -> { (s, dir) =>
      // Through the public MERGE façade (+ the gate output sort), so the
      // library entry point is itself gate-exercised.
      applyChangelog(
        Relational.t(s, dir, "customer"),
        changelog(Relational.t(s, dir, "orders")))
        .orderBy("c_custkey")
    },

    // SCD type-2: balance history per customer with [valid_from, valid_to)
    // effective ranges; the current row has valid_to NULL. One window.
    "cd_scd2_history" -> { (s, dir) =>
      scd2History(changelog(Relational.t(s, dir, "orders")))
    },

    // Snapshot diff summarized per op (per-row ops are the same plan
    // un-aggregated; the summary keeps the gate output small at scale).
    "cd_snapshot_diff" -> { (s, dir) =>
      val docs = Relational.t(s, dir, "documents")
      snapshotDiff(
        docs.select("doc_id", "n_chars", "lang"),
        perturbedDocs(docs),
        "doc_id", Seq("n_chars", "lang"))
        .groupBy("op")
        .agg(count(lit(1)).as("n_rows"), min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("op")
    }
  )

  private def changelogSql: String = {
    val b = opBucketSql("o_orderkey")
    s"""SELECT CASE WHEN $b < 10 THEN 'D' WHEN $b < 20 THEN 'I' ELSE 'U' END AS op,
       |  CASE WHEN $b >= 10 AND $b < 20 THEN o_custkey + $InsertOffset ELSE o_custkey END AS key,
       |  o_orderdate AS ts, o_orderkey AS seq, o_totalprice AS new_bal
       |FROM orders""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "cd_apply_changelog" ->
      s"""WITH log AS ($changelogSql),
         |latest AS (
         |  SELECT * FROM log
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY key ORDER BY ts DESC, seq DESC) = 1
         |)
         |SELECT COALESCE(c_custkey, key) AS c_custkey,
         |  COALESCE(c_name, 'cust#' || CAST(key AS VARCHAR)) AS c_name,
         |  CASE WHEN op IS NOT NULL THEN new_bal ELSE c_acctbal END AS c_acctbal
         |FROM customer FULL OUTER JOIN latest ON c_custkey = key
         |WHERE op IS NULL OR op <> 'D'
         |ORDER BY c_custkey""".stripMargin,
    "cd_scd2_history" ->
      s"""WITH log AS ($changelogSql)
         |SELECT key AS c_custkey, new_bal AS bal, ts AS valid_from,
         |  LEAD(ts, 1) OVER (PARTITION BY key ORDER BY ts ASC, seq ASC) AS valid_to
         |FROM log WHERE op = 'U'
         |ORDER BY c_custkey, valid_from, seq""".stripMargin,
    "cd_snapshot_diff" ->
      s"""WITH newer AS (
         |  $perturbedDocsSql
         |), d AS (
         |  SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
         |              WHEN n.doc_id IS NULL THEN 'removed'
         |              WHEN o.n_chars IS DISTINCT FROM n.n_chars
         |                OR o.lang IS DISTINCT FROM n.lang THEN 'changed' END AS op,
         |    COALESCE(o.doc_id, n.doc_id) AS doc_id
         |  FROM (SELECT doc_id, n_chars, lang FROM documents) o
         |  FULL OUTER JOIN newer n ON o.doc_id = n.doc_id
         |)
         |SELECT op, COUNT(*) AS n_rows, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
         |FROM d WHERE op IS NOT NULL GROUP BY op ORDER BY op""".stripMargin
  )
}
