package graft

/** The stored-structure maintenance contract shared by the three
  * incremental-lifecycle gates — rt_df_incremental (r12), ss_ivf_incremental
  * (r13), ss_pq_incremental (r14). Each gate stores a structure built from
  * the pre-landing corpus partition, lets a landing batch arrive, and must
  * maintain the structure WITHOUT retraining or re-touching the indexed
  * corpus. VERDICT r14 #4: the three specs hand-rolled the same assertion
  * triple; this is the ONE definition they all route through.
  *
  * The triple:
  *  (a) maintain ≡ rebuild — the maintained structure (stale base ∪ batch
  *      processed at the SAME stored parameters) equals the from-scratch
  *      rebuild of the whole corpus at those parameters, entry by entry;
  *  (b) stale-read-differs — the landing batch is OBSERVABLE: the stale
  *      base alone carries strictly less mass than the maintained table
  *      (entry count for append-only structures like IVF cells / PQ codes,
  *      summed postings for merge-updated ones like the df table), and its
  *      key set never shrinks under maintenance;
  *  (c) plan shape — the gate query's executed plan scans each named table
  *      exactly its expected number of times (the corpus exactly once — the
  *      batch filter — and a full-rebuild artifact zero times), so a
  *      Lloyd's retraining chain or a corpus re-encode is a red bar. The
  *      scan walk is [[scanLocations]] — never re-inline the
  *      InMemoryFileIndex regex (ADVICE r13-1).
  */
object StaleStructureContract extends org.scalatest.Assertions {

  /** Every parquet scan location in a physical-plan string — ONE definition
    * of the walk, shared by this contract's plan-shape leg and
    * PlanAuditSpec's rescan pin, so the two can never count different
    * things.
    */
  def scanLocations(plan: String): Seq[String] = {
    val loc = """InMemoryFileIndex\(\d+ paths?\)\[([^\]]+)""".r
    loc.findAllMatchIn(plan).map(_.group(1)).toSeq
  }

  /** Collect a frame into key → value-row map: `keyCols` form the key, the
    * remaining columns the value — the entry-by-entry representation the
    * (a)/(b) assertions compare.
    */
  def keyed(df: org.apache.spark.sql.DataFrame, keyCols: String*): Map[Seq[Any], Seq[Any]] = {
    val cols = df.columns.toSeq
    val ki = keyCols.map(cols.indexOf)
    require(ki.forall(_ >= 0), s"key cols $keyCols not all in $cols")
    val vi = cols.indices.filterNot(ki.contains)
    val rows = df.collect().map(r => ki.map(r.get) -> vi.map(r.get))
    // Duplicate keys must FAIL, not silently collapse: a maintenance path
    // that emits an entry twice (stale row + a batch re-emission) would
    // otherwise pass all three contract legs after toMap dedupes it.
    val dupes = rows.groupBy(_._1).filter(_._2.length > 1)
    assert(dupes.isEmpty,
      s"structure has duplicate entries for key(s): ${dupes.keys.take(5)} — " +
        "a maintained structure must hold exactly one entry per key")
    rows.toMap
  }

  /** Assert the full triple.
    *
    * @param label      gate name, prefixed to every failure clue
    * @param stale      the stored pre-landing structure, keyed
    * @param maintained stale ∪ batch-processed-at-stored-parameters, keyed
    * @param rebuilt    from-scratch structure over the full corpus at the
    *                   SAME stored parameters, keyed
    * @param staleMass  per-entry mass for the (b) strict inequality:
    *                   `_ => 1L` (entry count) for append-only structures,
    *                   the merged counter for merge-updated ones
    * @param gatePlan   executedPlan.toString of the GATE query
    * @param scanCounts (fileName, expectedScans) pins over gatePlan — the
    *                   corpus file at 1, forbidden rebuild artifacts at 0
    */
  def check[K, V](
      label: String,
      stale: Map[K, V],
      maintained: Map[K, V],
      rebuilt: Map[K, V],
      staleMass: V => Long,
      gatePlan: String,
      scanCounts: Seq[(String, Int)]): Unit = {
    // (a) maintain ≡ rebuild, entry by entry — report a bounded diff, not
    // a megabyte Map.toString, when it fails.
    if (maintained != rebuilt) {
      val onlyM = (maintained.keySet -- rebuilt.keySet).take(5)
      val onlyR = (rebuilt.keySet -- maintained.keySet).take(5)
      val drift = maintained.keysIterator
        .filter(k => rebuilt.get(k).exists(_ != maintained(k))).take(5).toSeq
      fail(s"$label: maintain(stale, batch) must equal rebuild — " +
        s"keys only in maintained: $onlyM; only in rebuilt: $onlyR; " +
        s"value drift at: ${drift.map(k => s"$k -> ${maintained(k)} vs ${rebuilt(k)}")}")
    }
    // (b) the landing batch is observable, and maintenance never deletes.
    assert(stale.keySet.subsetOf(maintained.keySet),
      s"$label: maintenance must not drop stale entries — lost: " +
        (stale.keySet -- maintained.keySet).take(5))
    val staleSum = stale.valuesIterator.map(staleMass).sum
    val maintainedSum = maintained.valuesIterator.map(staleMass).sum
    assert(staleSum < maintainedSum,
      s"$label: the landing batch must be missing from the stale structure " +
        s"(stale mass $staleSum, maintained $maintainedSum)")
    // (c) plan shape: exact scan counts per named table.
    val locs = scanLocations(gatePlan)
    scanCounts.foreach { case (file, want) =>
      val got = locs.count(_.contains(file))
      assert(got == want,
        s"$label: expected $want scan(s) of $file in the maintained plan, got $got:\n$gatePlan")
    }
  }
}
