package graft.core

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** The whole reference runtime, Spark-first.
  *
  * One configured job ≡ one Spark action with a single shuffle:
  *
  * {{{
  * text scan (line-aligned byte splits)        ≡ reference src/file_shard.h:19-43 + src/worker.h:57-81
  *   → flatMap(task.map)                       ≡ map UDTF dispatch, src/worker.h:73
  *     (combinable task: mapPartitions(task.map, bounded hash buffer → task.reduce),
  *      the Combiner of the MapReduce paper §4.3; the reference has none)
  *   → repartition(R, key)                     ≡ hash partitioner, src/mr_tasks.h:47-49
  *   → sortWithinPartitions(key)               ≡ reduce-side sort grouping, src/worker.h:92-106
  *   → streaming adjacent-group reduce         ≡ reduce UDAF dispatch, src/worker.h:105-106
  *   → "key value" text sink, R files          ≡ src/mr_tasks.h:66-77,89-91
  * }}}
  *
  * What is deliberately NOT rebuilt (SURVEY.md §7.4): master/worker processes, gRPC
  * (`src/masterworker.proto`), greedy FIFO scheduling (`src/master.h:217-232`),
  * straggler/failure handling (`src/master.h:234-256`) — Spark's DAGScheduler, task
  * retry, speculation, and shuffle service subsume all of it. The reference's
  * append-mode duplicate-on-retry hazard (`src/mr_tasks.h:25,69`) is fixed for free
  * by Spark's task-commit protocol.
  *
  * Scale notes (100 TB design points):
  *  - The reduce is sort-based and streaming: within each of the R partitions,
  *    equal keys are adjacent after the partition-local sort, so grouping needs no
  *    hash map and a single key's values never have to fit in memory (Spark's
  *    external sorter spills). The reference materializes every group in a
  *    `std::map` and OOMs past RAM.
  *  - The reference writes M·R intermediate files (`src/mr_tasks.h:23`); Spark's
  *    sort-based shuffle writes one spillable file per map task. No small-file
  *    explosion at M=10^5.
  *  - A [[MapReduceTask.combinable]] task shuffles what its reduce emits per
  *    distinct key per buffer flush of each map task, not every mapped pair. The
  *    buffer holds at most `CombineBufferPairs` pairs, whatever the key count.
  */
object MapReduceJob {

  /** Map-side combine buffer cap, in buffered pairs (not keys): a flush runs when it
    * is reached, so a map task's buffer stays bounded whatever its key count.
    */
  private val CombineBufferPairs = 1 << 20

  /** Run a registered task end-to-end from a parsed spec: read, map, shuffle,
    * sorted-reduce, write R text files named `{user_id}_result_{r}`.
    */
  def run(spark: SparkSession, spec: JobSpec): Unit = run(spark, spec, CombineBufferPairs)

  private[core] def run(spark: SparkSession, spec: JobSpec, combineCap: Int): Unit = {
    spec.validate().left.foreach(msg => throw new IllegalArgumentException(msg))
    val task = TaskRegistry(spec.userId)
    val prev = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    // map_kilobytes ≡ input split size (reference src/file_shard.h:20-21)
    spark.conf.set("spark.sql.files.maxPartitionBytes", (spec.mapKilobytes.toLong * 1024).toString)
    try {
      val lines = spark.read.textFile(spec.inputFiles: _*)
      val reduced = reduceSorted(mapPhase(lines, task, combineCap), task, spec.numOutputs)
      writeResultFiles(spark, reduced, spec.outputDir, spec.userId, spec.numOutputs)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
        case None    => spark.conf.unset("spark.sql.files.maxPartitionBytes")
      }
    }
  }

  /** Map phase: one narrow stage, no shuffle (reference map loop `src/worker.h:64-75`).
    * A combinable task also combines its pairs in the same stage.
    */
  def mapPhase(lines: Dataset[String], task: MapReduceTask): Dataset[(String, String)] =
    mapPhase(lines, task, CombineBufferPairs)

  private[core] def mapPhase(
      lines: Dataset[String],
      task: MapReduceTask,
      combineCap: Int
  ): Dataset[(String, String)] = {
    import lines.sparkSession.implicits._
    if (task.combinable) lines.mapPartitions(new MapSideCombine(task, combineCap))
    else lines.flatMap(task.map(_))
  }

  /** A combinable task's map-task body, named so plans show it as `MapSideCombine`. */
  final class MapSideCombine private[core] (task: MapReduceTask, cap: Int)
      extends (Iterator[String] => Iterator[(String, String)])
      with Serializable {
    def apply(lines: Iterator[String]): Iterator[(String, String)] =
      combine(lines.flatMap(task.map(_)), task, cap)
    override def toString: String = s"MapSideCombine(${task.getClass.getName}, cap=$cap)"
  }

  /** Buffer `pairs` by key; when `cap` pairs are buffered, and at the end of the
    * input, run `task.reduce` over each buffered group and emit its output. A
    * reduce that emits a key other than its group's fails the task: that pair
    * would be hash-partitioned into another key's result file.
    */
  private[core] def combine(
      pairs: Iterator[(String, String)],
      task: MapReduceTask,
      cap: Int
  ): Iterator[(String, String)] = {
    require(cap > 0, s"combine buffer cap must be > 0, got $cap")
    new Iterator[(String, String)] {
      private val groups = new java.util.HashMap[String, ArrayBuffer[String]]()
      private var out: Iterator[(String, String)] = Iterator.empty

      def hasNext: Boolean = {
        while (!out.hasNext && pairs.hasNext) out = fillAndFlush()
        out.hasNext
      }
      def next(): (String, String) = {
        if (!hasNext) throw new NoSuchElementException("combine iterator exhausted")
        out.next()
      }

      private def fillAndFlush(): Iterator[(String, String)] = {
        var buffered = 0
        while (buffered < cap && pairs.hasNext) {
          val (k, v) = pairs.next()
          var vs = groups.get(k)
          if (vs == null) { vs = new ArrayBuffer[String](); groups.put(k, vs) }
          vs += v
          buffered += 1
        }
        val emitted = new ArrayBuffer[(String, String)](groups.size)
        groups.forEach { (k, vs) =>
          task.reduce(k, vs.iterator).iterator.foreach { kv =>
            if (kv._1 != k)
              throw new IllegalStateException(
                s"combinable task ${task.getClass.getName} emitted key '${kv._1}' while " +
                  s"reducing key '$k'; a combining reduce must emit only the key it was given")
            emitted += kv
          }
        }
        groups.clear()
        emitted.iterator
      }
    }
  }

  /** Shuffle + sorted streaming reduce. Exactly one exchange: hash-partition on key
    * into R partitions (reference `src/mr_tasks.h:48` — co-location semantics, not
    * the same hash function), partition-local sort, then group adjacent equal keys
    * and stream each group's values through `task.reduce`.
    */
  def reduceSorted(
      pairs: Dataset[(String, String)],
      task: MapReduceTask,
      numOutputs: Int
  ): Dataset[(String, String)] = {
    import pairs.sparkSession.implicits._
    pairs
      .repartition(numOutputs, col("_1"))
      .sortWithinPartitions("_1")
      .mapPartitions { it =>
        adjacentGroups(it).flatMap { case (k, vs) =>
          // Materialize each group's (small) result eagerly so a lazily-built
          // result can't observe the values iterator after the group is drained.
          task.reduce(k, vs).iterator.toVector
        }
      }
  }

  /** Group an iterator sorted by key into (key, streaming-values) pairs. Values for
    * a key are never materialized; unconsumed values are drained on advance.
    */
  def adjacentGroups(it: Iterator[(String, String)]): Iterator[(String, Iterator[String])] =
    new Iterator[(String, Iterator[String])] {
      private val buf = it.buffered
      private var cur: ValueIter = _

      private final class ValueIter(key: String) extends Iterator[String] {
        def hasNext: Boolean = buf.hasNext && buf.head._1 == key
        def next(): String = buf.next()._2
        def drain(): Unit = while (hasNext) next()
      }

      def hasNext: Boolean = {
        if (cur != null) { cur.drain(); cur = null }
        buf.hasNext
      }
      def next(): (String, Iterator[String]) = {
        if (!hasNext) throw new NoSuchElementException("empty group iterator")
        val k = buf.head._1
        cur = new ValueIter(k)
        (k, cur)
      }
    }

  /** Text sink contract of the reference (`src/mr_tasks.h:66-70,89-91` +
    * `description.md:62,66-68`): R files named `{user_id}_result_{r}`, one
    * `key value` line per pair, keys sorted within each file.
    */
  private def writeResultFiles(
      spark: SparkSession,
      reduced: Dataset[(String, String)],
      outputDir: String,
      userId: String,
      numOutputs: Int
  ): Unit = {
    reduced
      .select(concat_ws(" ", col("_1"), col("_2")))
      .write
      .mode(SaveMode.Overwrite)
      // One part file per reduce partition, whatever the session's
      // spark.sql.files.maxRecordsPerFile: a split partition writes c000,
      // c001, … and the second rename onto the same result file fails.
      .option("maxRecordsPerFile", 0L)
      .text(outputDir)
    // Rename part files to the reference's result-file naming, via the Hadoop
    // FileSystem API (works on any FS the sink wrote to, not just local).
    // The reduce partition index r is parsed from the part file name
    // (part-00003-… → result_3): empty partitions write no part file, so a
    // positional rename of the sorted survivors would shift indices and break
    // the key→hash-partition→file correspondence.
    import org.apache.hadoop.fs.Path
    val out = new Path(outputDir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(out).map(_.getPath).filter(_.getName.startsWith("part-"))
    parts.foreach { p =>
      val r = p.getName.stripPrefix("part-").takeWhile(_.isDigit).toInt
      val dst = new Path(out, s"${userId}_result_$r")
      if (!fs.rename(p, dst))
        throw new java.io.IOException(s"failed to rename $p to $dst")
    }
    // Partitions with no data produce no part file; emit empty files to keep the
    // R-files contract (the reference always creates all R sinks, src/mr_tasks.h:19-27).
    (0 until numOutputs).foreach { r =>
      val p = new Path(out, s"${userId}_result_$r")
      if (!fs.exists(p)) fs.create(p).close()
    }
  }
}
