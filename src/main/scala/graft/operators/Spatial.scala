package graft.operators

import graft.functions.HashFunctions.md5Long
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spatial operators over a deterministic synthetic point set: grid-cell
  * density stats, a radius self-join, and per-point nearest-neighbor — the
  * geo tier a training-data lake needs for location-keyed corpora (geo
  * dedup, spatial sampling, region joins) and, more generally, the
  * fixed-radius near-neighbor shape that also backs numeric blocking.
  *
  * Reference scope: the reference engine has no spatial operators (its data
  * model is line-of-text records, SURVEY.md §1.1); this family is a
  * north-star extension. The *shape* is the reference's own hash-partition
  * contract (`mr_tasks.h:48`): a record's cell id is its partition key, and
  * all work is equality-keyed on that id.
  *
  * Point derivation: the test tables carry no coordinates, so each customer
  * gets a deterministic synthetic position on a [0, 100000)² integer grid
  * from the cross-engine 60-bit md5 hash of its key
  * ([[graft.functions.HashFunctions.md5Long]], seeds 41/42 for x/y). Both
  * engines derive identical coordinates, so every query below hash-matches
  * exactly — integer arithmetic end-to-end, no floating point anywhere.
  *
  * Scale shape (100 TB): the classic distance self-join is O(n²); the grid
  * decomposition makes it an EQUALITY join on cell id. Each point is
  * assigned one home cell (side b) and probes its 3×3 cell neighborhood
  * (side a, a 9× explode of two ints — metadata-narrow). Because the cell
  * edge equals the radius, any pair within distance r is at most one cell
  * apart on each axis, so the neighborhood probe finds every qualifying
  * pair exactly once (b's home cell is unique and a's nine probe cells are
  * distinct). Candidate volume is bounded by physical density per cell, not
  * by n² — the same argument as the dedup tier's band buckets
  * (`Dedup.scala`): shuffle O(9n), compare O(Σ_cell n_a·n_b). At 1000
  * executors the cell id is the shuffle key; hot cells (urban skew) salt
  * the home side on its id — [[saltedNeighborhoodPairsOf]], the
  * [[Skew.saltedJoin]] remedy applied to this self-join and DEMONSTRATED
  * (SpatialSpec plants a hot cell and asserts pair-set equality plus the
  * r-way per-task spread), not just prescribed.
  */
object Spatial {

  /** Grid extent: coordinates are in [0, Extent)². */
  val Extent = 100000L

  /** Radius for the fixed-radius join; also the grid cell edge, so the 3×3
    * neighborhood is a complete candidate set (see class doc).
    */
  val Radius = 1000L

  /** Core-point density threshold of [[queries geo_core_points]]. */
  val MinPts = 3L

  // private[graft] (not private) so SeedHygieneSpec can pin every *Seed
  // constant pairwise distinct.
  private[graft] val xSeed = 41
  private[graft] val ySeed = 42

  /** Customers with deterministic synthetic integer coordinates and their
    * home grid cell. Exact in both engines: md5-derived ints, integer
    * modulo, and an exact floor division (values ≪ 2^53, so the
    * double-precision `/` both engines use for int÷int is lossless).
    */
  private def points(s: SparkSession, dir: String): DataFrame =
    Relational.t(s, dir, "customer").select(
      col("c_custkey").as("id"),
      (md5Long(xSeed, col("c_custkey")) % Extent).as("x"),
      (md5Long(ySeed, col("c_custkey")) % Extent).as("y"))
      .withColumn("cx", floor(col("x") / Radius))
      .withColumn("cy", floor(col("y") / Radius))

  /** Squared euclidean distance between (x1,y1) and (x2,y2) — exact longs. */
  private def dist2(x1: String, y1: String, x2: String, y2: String) =
    (col(x1) - col(x2)) * (col(x1) - col(x2)) + (col(y1) - col(y2)) * (col(y1) - col(y2))

  /** All (a, b) candidate pairs from the 3×3 grid neighborhood, distance
    * filter applied inside the join condition so non-qualifying candidates
    * never survive the join operator. `keep` additionally restricts the
    * pair orientation (a < b for the undirected radius join; a ≠ b for the
    * directed nearest-neighbor scan).
    */
  private def neighborhoodPairs(s: SparkSession, dir: String, keep: org.apache.spark.sql.Column): DataFrame =
    neighborhoodPairsOf(Dedup.materialized(points(s, dir)), keep)

  /** The directed within-Radius pair table (a, b, d²) as a STORED structure
    * ([[graft.sources.Stored]]) — the spatial-index artifact a production
    * pipeline computes at ingest and persists beside the corpus. Parquet,
    * NOT RAM-pinned: the pair volume grows with the corpus (density ×
    * points), so the store must live where the corpus lives.
    * [[queries geo_radius_join]] and [[queries geo_core_points]] still run
    * the grid candidate join LIVE (the tier's honest end-to-end
    * measurements, the dd_ngram_pairs doctrine); the derived neighbor
    * analyses (geo_nn, geo_knn, geo_dbscan) read the store — previously
    * each re-ran the candidate join, and geo_dbscan alone paid five eager
    * materialization barriers per invocation.
    */
  private[graft] def pairStore(s: SparkSession, dir: String): DataFrame =
    graft.sources.Stored.materialize("geo_nbr_pairs", dir, s)(
      neighborhoodPairs(s, dir, col("a") =!= col("b"))
        .select(col("a"), col("b"), dist2("ax", "ay", "bx", "by").as("d2")))

  /** The DBSCAN core-point census (ids with ≥ MinPts neighbors) as a stored
    * structure derived from [[pairStore]] — same ingest-artifact doctrine;
    * geo_core_points keeps the live measurement of this reduction.
    */
  private[graft] def coreStore(s: SparkSession, dir: String): DataFrame =
    graft.sources.Stored.materialize("geo_cores", dir, s)(
      pairStore(s, dir)
        .groupBy(col("a").as("id"))
        .agg(count(lit(1)).as("n_neighbors"))
        .filter(col("n_neighbors") >= MinPts))

  /** The core-core radius edge set (undirected, a < b), RAM-materialized —
    * the shared root of every DBSCAN CC level and the node set.
    */
  private[graft] def dbscanCorePairs(s: SparkSession, dir: String): DataFrame = {
    val cores = coreStore(s, dir).select(col("id"))
    Dedup.materialized(
      pairStore(s, dir).select(col("a"), col("b"))
        .filter(col("a") < col("b"))
        .join(cores.select(col("id").as("a")), "a")
        .join(cores.select(col("id").as("b")), "b")
        .select(col("a").as("doc_a"), col("b").as("doc_b")))
  }

  /** The candidate join over an explicit (id, x, y, cx, cy) frame — the
    * testable core behind [[neighborhoodPairs]] (SpatialSpec drives it with
    * planted point sets).
    */
  private[operators] def neighborhoodPairsOf(pts: DataFrame, keep: org.apache.spark.sql.Column): DataFrame = {
    val probe = pts
      .withColumn("dx", explode(lit(Array(-1, 0, 1))))
      .withColumn("dy", explode(lit(Array(-1, 0, 1))))
      .select(col("id").as("a"), col("x").as("ax"), col("y").as("ay"),
        (col("cx") + col("dx")).as("pcx"), (col("cy") + col("dy")).as("pcy"))
    val home = pts.select(col("id").as("b"), col("x").as("bx"), col("y").as("by"),
      col("cx"), col("cy"))
    probe.join(home,
      col("pcx") === col("cx") && col("pcy") === col("cy") &&
        keep &&
        dist2("ax", "ay", "bx", "by") <= lit(Radius * Radius))
  }

  /** Hot-cell (urban-skew) variant of the candidate join — the class-doc
    * remedy made concrete: the home side splits into `r` deterministic salt
    * shards on its id and the probe side replicates across all `r`, so the
    * join key becomes (cell, salt) and a hot cell's candidate volume runs
    * on `r` tasks instead of one ([[Skew.saltedJoin]]'s doctrine applied to
    * the spatial self-join; salts from pmod of the id — retry-safe, never
    * rand()). Pair set is IDENTICAL to [[neighborhoodPairsOf]]: each home
    * point owns exactly one salt, so every qualifying pair matches exactly
    * once — SpatialSpec plants a hot cell and proves both equality and the
    * r-way per-task spread. The shuffle_hash hint pins the demonstration to
    * a real shuffle join (broadcast would make salting a no-op).
    */
  private[operators] def saltedNeighborhoodPairsOf(pts: DataFrame,
      keep: org.apache.spark.sql.Column, r: Int): DataFrame = {
    val probe = pts
      .withColumn("dx", explode(lit(Array(-1, 0, 1))))
      .withColumn("dy", explode(lit(Array(-1, 0, 1))))
      .withColumn("psalt", explode(sequence(lit(0), lit(r - 1))))
      .select(col("id").as("a"), col("x").as("ax"), col("y").as("ay"),
        (col("cx") + col("dx")).as("pcx"), (col("cy") + col("dy")).as("pcy"),
        col("psalt"))
    val home = pts.select(col("id").as("b"), col("x").as("bx"), col("y").as("by"),
      col("cx"), col("cy"), pmod(col("id"), lit(r.toLong)).cast("int").as("hsalt"))
    probe.join(home.hint("shuffle_hash"),
      col("pcx") === col("cx") && col("pcy") === col("cy") &&
        col("psalt") === col("hsalt") &&
        keep &&
        dist2("ax", "ay", "bx", "by") <= lit(Radius * Radius))
  }

  /** Connected components of a GEOMETRIC id-pair graph by multilevel
    * supercell coarsening — the structure-aware replacement for the generic
    * star-contraction fixpoint in the DBSCAN cluster merge.
    *
    * Star contraction ([[Dedup.connectedComponentsStars]]) is the right
    * tool when the graph has no usable embedding (text near-dup graphs);
    * on THIS graph every node is a point whose grid cell is derivable from
    * its id alone, and radius edges only ever connect points ≤ 1 cell
    * apart — so almost all edges are LOCAL. Coarsening exploits that:
    *
    *  - Level ℓ groups edges whose endpoints share a `levels(ℓ)`-cell
    *    supercell and runs [[Dedup.unionFindMinRoots]] per group — one
    *    mapGroups pass collapsing each supercell's subgraph to a min-root
    *    forest. Cross-supercell edges are rewritten through the level's
    *    root mapping (left join + coalesce) and become the next level's
    *    input; rewritten duplicates collapse via distinct.
    *  - The LAST level's supercell covers the whole grid (one group), so
    *    the residual — by then contracted to one representative per
    *    boundary-touching component per supercell — resolves in a single
    *    bounded task and no residual survives: no distributed fixpoint,
    *    no per-round convergence jobs. Per-group memory is O(nodes in the
    *    supercell); `levels` is the knob — at 100 TB insert more levels
    *    (e.g. 10, 40, whole-grid) so every group, apex included, stays
    *    bounded by the contracted boundary population, exactly the
    *    multilevel contract of parallel-Kruskal-style CC.
    *
    * Labels compose by folding the per-level mappings over the node set
    * (left join + coalesce per level — lazy, part of the caller's plan).
    * Output: (doc_id, cluster_id = component MINIMUM id) for every node of
    * `pairs` — the same contract as both generic CC algorithms, so the
    * quadratic recursive-CTE oracle proves this whole chain exact.
    *
    * A contracted root is a real point id, so later levels re-derive its
    * supercell from the hash — correctness needs no locality from that
    * assignment (any consistent grouping yields the same components), it
    * only sharpens how much the next level contracts.
    */
  /** The coarsening ladder for [[geoComponents]], DERIVED from the grid
    * geometry instead of hard-coded: supercell edges grow geometrically
    * from `base` by `fanout` until one supercell covers the whole grid
    * (`cellsPerAxis` = ceil(Extent/Radius) cells), the covering apex level
    * included. `base` bounds the first level's per-group population
    * (≈ corpus density × base² cells — the only level that sees raw
    * nodes); `fanout` keeps the ladder short while each level's groups
    * only ever see the CONTRACTED boundary components of the previous
    * level (O(perimeter), which shrinks relative to group area as the
    * ladder climbs). If the grid constants change, the ladder re-derives —
    * no silent under-coverage; the covering `require` in geoComponents
    * stays as the backstop for explicitly-passed ladders.
    */
  private[operators] def coarseningLevels(
      cellsPerAxis: Long = (Extent + Radius - 1) / Radius,
      base: Long = 10L,
      fanout: Long = 12L): Seq[Long] = {
    val climb = Iterator.iterate(base)(_ * fanout).takeWhile(_ < cellsPerAxis).toSeq
    climb :+ math.max(cellsPerAxis, climb.lastOption.fold(cellsPerAxis)(_ * fanout))
  }

  private[graft] def geoComponents(pairs: DataFrame,
      levels: Seq[Long] = coarseningLevels()): DataFrame = {
    // Covering precondition FIRST — before any per-level job runs: the last
    // level's supercell must span the grid, else cross-supercell residual
    // edges would be silently dropped at the final level. (The default
    // ladder satisfies this by construction; the require is the backstop
    // for explicitly-passed ladders.)
    require(levels.last * Radius >= Extent,
      s"last coarsening level must cover the grid (got ${levels.last} cells)")
    val s = pairs.sparkSession
    import s.implicits._
    def superKey(c: org.apache.spark.sql.Column, sc: Long): org.apache.spark.sql.Column =
      (floor(floor((md5Long(xSeed, c) % Extent) / Radius) / sc) * 1024 +
        floor(floor((md5Long(ySeed, c) % Extent) / Radius) / sc)).cast("long")
    var edges: DataFrame = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
    val mappings = scala.collection.mutable.Buffer.empty[DataFrame]
    for ((sc, i) <- levels.zipWithIndex) {
      val keyed = edges.select(col("u"), col("v"),
        superKey(col("u"), sc).as("gu"), superKey(col("v"), sc).as("gv"))
      val grouped = keyed.filter(col("gu") === col("gv"))
        .select(col("gu"), col("u"), col("v")).as[(Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroups((_, it) => Dedup.unionFindMinRoots(it.map(t => (t._2, t._3))))
        .toDF("node", "root")
      // A non-final level's mapping has THREE consumers (both residual-edge
      // joins + the final label fold) — checkpoint it so the contraction is
      // computed once and the per-level lineage stays constant-size. The
      // FINAL level's mapping feeds only the label fold: leave it lazy and
      // save the barrier (its residual frame is constructed but never
      // consumed, so nothing re-executes it).
      val m = if (i == levels.size - 1) grouped else Dedup.materialized(grouped)
      mappings += m
      edges = keyed.filter(col("gu") =!= col("gv")).select("u", "v")
        .join(m.select(col("node").as("u"), col("root").as("ru")), Seq("u"), "left_outer")
        .join(m.select(col("node").as("v"), col("root").as("rv")), Seq("v"), "left_outer")
        .select(coalesce(col("ru"), col("u")).as("u"), coalesce(col("rv"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    val nodes = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    mappings.zipWithIndex.foldLeft(nodes.withColumn("cur", col("doc_id"))) {
      case (lab, (m, i)) =>
        lab.join(m.select(col("node").as("cur"), col("root").as(s"r$i")), Seq("cur"), "left_outer")
          .select(col("doc_id"), coalesce(col(s"r$i"), col("cur")).as("cur"))
    }.select(col("doc_id"), col("cur").as("cluster_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Grid-cell density profile: the histogram a spatial partitioner is
    // tuned from (cell occupancy drives cell-size / salting choices at
    // scale). One hash aggregation over the derived cell id; cells with a
    // single point are dropped to keep the profile at collision cells.
    "geo_cell_stats" -> { (s, dir) =>
      points(s, dir)
        .groupBy("cx", "cy")
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .filter(col("n") >= 2)
        .orderBy("cx", "cy")
    },

    // Fixed-radius self-join: every unordered customer pair within
    // euclidean distance Radius, found via the 3×3 neighborhood equality
    // join — never an all-pairs comparison. The oracle IS the all-pairs
    // O(n²) formulation, so the hash-match proves the grid decomposition
    // loses no pair.
    "geo_radius_join" -> { (s, dir) =>
      neighborhoodPairs(s, dir, col("a") < col("b"))
        .select(col("a"), col("b"), dist2("ax", "ay", "bx", "by").as("d2"))
        .orderBy("a", "b")
    },

    // DBSCAN's first phase — the core-point census: points with at least
    // MinPts OTHER points within Radius (the density test every
    // density-based clusterer starts from; border/noise classification and
    // the cluster merge are unions over this frame). Same grid-decomposed
    // neighborhood join — candidate volume bounded by physical density per
    // cell — reduced by one counting aggregate; the quadratic oracle
    // proves the census exact. Integer coordinates, integer counts.
    "geo_core_points" -> { (s, dir) =>
      neighborhoodPairs(s, dir, col("a") =!= col("b"))
        .groupBy(col("a").as("id"))
        .agg(count(lit(1)).as("n_neighbors"))
        .filter(col("n_neighbors") >= MinPts)
        .orderBy("id")
    },

    // COMPLETE DBSCAN (Ester et al. 1996) — core census → core-graph
    // connected components → border assignment, the full density
    // clustering the geo_core_points phase starts: clusters are the CC of
    // the core-core radius graph labeled by min core id (reusing the
    // dedup tier's pointer-doubling [[Dedup.connectedComponents]] — an
    // isolated core is its own cluster), and every non-core point within
    // Radius of a core joins its LOWEST reachable core's cluster (the
    // deterministic resolution of DBSCAN's border-tie ambiguity; points
    // reaching no core are noise and absent). All joins stay on the grid
    // decomposition — candidate volume bounded by physical density — and
    // the core graph is density-bounded tiny. The oracle runs the
    // quadratic pair form with a recursive-CTE closure (the dd_clusters
    // proof shape), so the hash match proves grid pruning + iterative CC +
    // border resolution jointly exact. Output: per cluster, core and
    // border populations.
    "geo_dbscan" -> { (s, dir) =>
      // Three passes need the directed pair table (core census, core-core
      // edges, border pairs) — all read the STORED spatial index
      // ([[pairStore]], d² pruned at the scan) instead of re-running the
      // grid join; the core census likewise reads [[coreStore]]. Both are
      // LAZY parquet scans (no compute above the read), so redundant
      // consumers cost repeated small scans, never repeated joins — the
      // only frame worth a RAM barrier is [[corePairs]] below, the shared
      // root of every CC level and the node set.
      val nbr = pairStore(s, dir).select(col("a"), col("b"))
      val cores = coreStore(s, dir).select(col("id"))
      // cores / coreClusters grow O(points) — in a dense region nearly
      // every point is a core — so these joins are deliberately UNHINTED:
      // all frames are already equality-keyed on the id, AQE broadcasts
      // them while they are small and falls back to a shuffle join when a
      // 100× corpus makes them big; a forced broadcast here would bypass
      // every size guard and OOM the driver at scale.
      val corePairs = dbscanCorePairs(s, dir)
      // Multilevel supercell coarsening, not a generic CC fixpoint: the
      // core graph is geometric (radius edges never span more than one
      // cell), so [[geoComponents]] collapses it in a fixed number of
      // mapGroups passes — star contraction needed 7 rounds × 3 jobs here
      // to chase the grid-spanning giant component to its fixpoint.
      val cc = geoComponents(corePairs)
        .select(col("doc_id").as("id"), col("cluster_id"))
      // Lazy: both consumers re-derive this from the stored census + the
      // CHECKPOINTED per-level CC mappings — two cheap joins inside the one
      // result job, cheaper than another serial barrier at construction.
      val coreClusters = cores.join(cc, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
      val borders = nbr
        .join(coreClusters.select(col("id").as("b"), col("cluster_id")), "b")
        .join(cores.select(col("id").as("a")), Seq("a"), "left_anti")
        .groupBy(col("a")).agg(min(col("cluster_id")).as("cluster_id"))
      coreClusters.select(col("cluster_id"), lit(1L).as("c"), lit(0L).as("bd"))
        .unionByName(borders.select(col("cluster_id"), lit(0L).as("c"), lit(1L).as("bd")))
        .groupBy("cluster_id")
        .agg(sum(col("c")).as("n_core"), sum(col("bd")).as("n_border"))
        .orderBy("cluster_id")
    },

    // Nearest neighbor within Radius for each point that has one: the
    // directed neighborhood pairs reduced by min-distance (tie-broken by
    // lowest neighbor id — min over the exact (d2, b) pair encoded as
    // d2 * Extent² + b). The encoded key can exceed 2^53, so decoding uses
    // INTEGER division (`div` / DuckDB `//`), never double `/`.
    "geo_nn" -> { (s, dir) =>
      val enc = lit(Extent * Extent)
      pairStore(s, dir)
        .select(col("a"), (col("d2") * enc + col("b")).as("key"))
        .groupBy("a")
        .agg(min(col("key")).as("k"))
        .select(col("a"), (col("k") % enc).as("nn"),
          expr(s"k div ${Extent * Extent}").as("d2"))
        .orderBy("a")
    },

    // Fixed-radius k-NEAREST NEIGHBORS (k = KnnK) — the spatial k-NN-graph
    // constructor (geo_nn generalized past rank 1): per point, the k
    // closest OTHER points within Radius in (d², id) order. Candidates
    // come from the same lossless 3×3 neighborhood join (never all-pairs);
    // the per-point top-k is a WindowGroupLimit — each map task pre-shrinks
    // every point's candidate list to k rows before the exchange, so the
    // shuffle carries ≤ k·|points| rows whatever the local density. The
    // quadratic oracle proves grid + rank jointly exact. Integer ranks
    // widened to BIGINT (ROW_NUMBER's type in the oracle engine).
    "geo_knn" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("a").orderBy(col("d2").asc, col("b").asc)
      pairStore(s, dir)
        .select(col("a"), col("b"), col("d2"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= KnnK)
        .select(col("a").as("id"), col("rk").cast("long").as("rk"),
          col("b").as("nn"), col("d2"))
        .orderBy("id", "rk")
    }
  )

  /** Neighbor-list depth of [[queries geo_knn]]. */
  val KnnK = 3

  private def coordSql(seed: Int, key: String) =
    s"CAST('0x' || substr(md5('$seed:' || CAST($key AS VARCHAR)), 1, 15) AS BIGINT) % $Extent"

  private val pointsSql =
    s"""pts AS (
       |  SELECT c_custkey AS id,
       |         ${coordSql(xSeed, "c_custkey")} AS x,
       |         ${coordSql(ySeed, "c_custkey")} AS y
       |  FROM customer
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "geo_cell_stats" ->
      s"""WITH $pointsSql
         |SELECT CAST(floor(x / $Radius) AS BIGINT) AS cx,
         |       CAST(floor(y / $Radius) AS BIGINT) AS cy,
         |       COUNT(*) AS n,
         |       MIN(x) AS min_x, MAX(x) AS max_x,
         |       MIN(y) AS min_y, MAX(y) AS max_y
         |FROM pts GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY cx, cy""".stripMargin,
    // Deliberately the quadratic formulation: proves the grid join exact.
    "geo_radius_join" ->
      s"""WITH $pointsSql
         |SELECT p.id AS a, q.id AS b,
         |       (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) AS d2
         |FROM pts p JOIN pts q ON p.id < q.id
         |WHERE (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) <= ${Radius * Radius}
         |ORDER BY a, b""".stripMargin,
    // Quadratic neighbor census — proves the grid-pruned count exact.
    "geo_core_points" ->
      s"""WITH $pointsSql
         |SELECT p.id, COUNT(*) AS n_neighbors
         |FROM pts p JOIN pts q ON p.id <> q.id
         |WHERE (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) <= ${Radius * Radius}
         |GROUP BY p.id HAVING COUNT(*) >= $MinPts
         |ORDER BY p.id""".stripMargin,
    // Quadratic pairs + recursive-CTE closure + naive border resolution —
    // the dd_clusters proof shape applied to density clustering.
    "geo_dbscan" ->
      s"""WITH RECURSIVE $pointsSql, pr AS (
         |  SELECT p.id AS ida, q.id AS idb
         |  FROM pts p JOIN pts q ON p.id <> q.id
         |  WHERE (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) <= ${Radius * Radius}
         |), cores AS (
         |  SELECT ida AS id FROM pr GROUP BY ida HAVING COUNT(*) >= $MinPts
         |), ce AS (
         |  SELECT pr.ida AS u, pr.idb AS v FROM pr
         |  JOIN cores c1 ON pr.ida = c1.id JOIN cores c2 ON pr.idb = c2.id
         |), reach(u, v) AS (
         |  SELECT id, id FROM cores
         |  UNION
         |  SELECT e.u, r.v FROM ce e JOIN reach r ON r.u = e.v
         |), lab AS (
         |  SELECT u AS id, MIN(v) AS cluster_id FROM reach GROUP BY u
         |), bord AS (
         |  SELECT pr.ida AS id, MIN(l.cluster_id) AS cluster_id
         |  FROM pr JOIN lab l ON pr.idb = l.id
         |  WHERE pr.ida NOT IN (SELECT id FROM cores)
         |  GROUP BY pr.ida
         |)
         |SELECT cluster_id, CAST(SUM(c) AS BIGINT) AS n_core, CAST(SUM(bd) AS BIGINT) AS n_border
         |FROM (
         |  SELECT cluster_id, 1 AS c, 0 AS bd FROM lab
         |  UNION ALL SELECT cluster_id, 0, 1 FROM bord
         |) GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    // Quadratic truth for the grid-decomposed k-NN: all-pairs within
    // Radius, ranked per point by (d2, id).
    "geo_knn" ->
      s"""WITH $pointsSql, pairs AS (
         |  SELECT p.id AS a, q.id AS b,
         |         (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) AS d2
         |  FROM pts p JOIN pts q ON p.id <> q.id
         |  WHERE (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) <= ${Radius * Radius}
         |), ranked AS (
         |  SELECT a, b, d2,
         |         ROW_NUMBER() OVER (PARTITION BY a ORDER BY d2 ASC, b ASC) AS rk
         |  FROM pairs
         |)
         |SELECT a AS id, rk, b AS nn, d2 FROM ranked
         |WHERE rk <= $KnnK ORDER BY id, rk""".stripMargin,
    "geo_nn" ->
      s"""WITH $pointsSql, pairs AS (
         |  SELECT p.id AS a,
         |         (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) AS d2,
         |         q.id AS b
         |  FROM pts p JOIN pts q ON p.id <> q.id
         |  WHERE (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) <= ${Radius * Radius}
         |), keyed AS (
         |  SELECT a, MIN(d2 * ${Extent * Extent} + b) AS k FROM pairs GROUP BY a
         |)
         |SELECT a, k % ${Extent * Extent} AS nn, k // ${Extent * Extent} AS d2
         |FROM keyed ORDER BY a""".stripMargin
  )
}
