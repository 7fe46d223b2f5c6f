package graft.core

import graft.tasks.WordCount
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** A task whose reduce throws once per (partition, attempt 0), AFTER the
  * first group of that task has already been emitted — so the failing attempt
  * has streamed real rows toward the text sink before dying, exercising the
  * reference's append-mode double-write-on-retry hazard
  * (reference `src/mr_tasks.h:25,69`).
  */
private object FlakyReduce extends MapReduceTask {
  val groupsSeen: TrieMap[(Int, Int), Int] = TrieMap.empty
  override def map(line: String): IterableOnce[(String, String)] = WordCount.map(line)
  override def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)] = {
    val tc = TaskContext.get()
    if (tc != null && tc.attemptNumber() == 0) {
      val k = (tc.partitionId(), tc.attemptNumber())
      val n = groupsSeen.updateWith(k) { c => Some(c.getOrElse(0) + 1) }.get
      if (n == 2) throw new RuntimeException(s"injected reduce failure, partition ${tc.partitionId()}")
    }
    WordCount.reduce(key, values)
  }
}

/** A task whose map throws on the first record of every attempt-0 map task. */
private object FlakyMap extends MapReduceTask {
  override def map(line: String): IterableOnce[(String, String)] = {
    val tc = TaskContext.get()
    if (tc != null && tc.attemptNumber() == 0)
      throw new RuntimeException(s"injected map failure, partition ${tc.partitionId()}")
    WordCount.map(line)
  }
  override def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)] =
    WordCount.reduce(key, values)
}

/** A combinable word count whose attempt-0 map tasks die on their third line.
  * Each line emits four pairs, so with a combine cap of four pairs the buffer
  * has flushed through `reduce` (and fed the shuffle writer) at least once
  * before the failure; `flushesAtFailure` records, per failed task, how many
  * map-side reduce calls it had made.
  */
private object FlakyCombiningMap extends MapReduceTask {
  val linesSeen: TrieMap[(Int, Int, Int), Int] = TrieMap.empty
  val reducesSeen: TrieMap[(Int, Int, Int), Int] = TrieMap.empty
  val flushesAtFailure: TrieMap[(Int, Int, Int), Int] = TrieMap.empty
  private def bump(m: TrieMap[(Int, Int, Int), Int], k: (Int, Int, Int)): Int =
    m.updateWith(k)(c => Some(c.getOrElse(0) + 1)).get

  override def combinable: Boolean = true
  override def map(line: String): IterableOnce[(String, String)] = {
    val tc = TaskContext.get()
    if (tc != null && tc.attemptNumber() == 0) {
      val k = (tc.stageId(), tc.partitionId(), tc.attemptNumber())
      if (bump(linesSeen, k) == 3) {
        flushesAtFailure.put(k, reducesSeen.getOrElse(k, 0))
        throw new RuntimeException(s"injected combining-map failure, partition ${tc.partitionId()}")
      }
    }
    WordCount.map(line)
  }
  override def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)] = {
    val tc = TaskContext.get()
    if (tc != null) bump(reducesSeen, (tc.stageId(), tc.partitionId(), tc.attemptNumber()))
    WordCount.reduce(key, values)
  }
}

/** O9 — failure semantics (SURVEY.md §5 item 5; reference
  * `description.md:85-86`, `src/master.h:234-256`): a failed task attempt is
  * retried, and the retry produces NO duplicate output. The reference's
  * append-mode sinks double-write on retry; Spark's task-commit protocol
  * discards the failed attempt's uncommitted file, so the committed result
  * must be byte-identical to a failure-free run.
  *
  * Local masters pin task attempts to 1, so this suite swaps the shared test
  * session for a `local[4, 2]` one (2 attempts per task — one injected
  * failure + one retry). Tests run sequentially in one forked JVM;
  * SparkSpec.session recreates the shared session for later suites.
  * The cluster-side posture (spark.task.maxFailures, spark.speculation) is
  * set centrally in [[graft.EngineSession]].
  */
class FailureRecoverySpec extends AnyFunSuite {

  private val lines = (1 to 500).map(i => s"w${i % 37} w${i % 11} common word$i")

  private def withRetrySession(f: SparkSession => Unit): Unit = {
    graft.SparkSpec.reset()
    val s = SparkSession.builder()
      .master("local[4, 2]")
      .appName("graft-failure-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    try f(s)
    finally {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  private def runJob(spark: SparkSession, task: MapReduceTask, id: String, in: java.nio.file.Path): Seq[String] = {
    val out = runJobDir(spark, task, id, in)
    (0 until 4).flatMap(r => Files.readAllLines(out.resolve(s"${id}_result_$r")).asScala).sorted
  }

  private def runJobDir(
      spark: SparkSession,
      task: MapReduceTask,
      id: String,
      in: java.nio.file.Path,
      combineCap: Option[Int] = None
  ): java.nio.file.Path = {
    val out = Files.createTempDirectory(s"o9-out-$id")
    TaskRegistry.register(id, task)
    val spec = JobSpec(1, Seq("localhost:1"), Seq(in.toString), out.toString, 4, 500, id)
    combineCap.fold(MapReduceJob.run(spark, spec))(MapReduceJob.run(spark, spec, _))
    out
  }

  test("reduce task failing once per attempt is retried; output has no duplicates (O9)") {
    withRetrySession { spark =>
      val in = Files.createTempDirectory("o9-in").resolve("input.txt")
      Files.writeString(in, lines.mkString("\n"))
      val clean = runJob(spark, WordCount, "o9clean", in)
      assert(clean.nonEmpty)
      FlakyReduce.groupsSeen.clear()
      val flaky = runJob(spark, FlakyReduce, "o9flakyreduce", in)
      // The injection actually fired (attempt-0 reduce tasks saw groups) …
      assert(FlakyReduce.groupsSeen.nonEmpty, "failure injection never ran")
      // … and the committed output is identical: nothing lost, nothing doubled.
      assert(flaky == clean)
    }
  }

  test("map task failing once per attempt is retried; shuffle output not duplicated (O9)") {
    withRetrySession { spark =>
      val in = Files.createTempDirectory("o9-in-map").resolve("input.txt")
      Files.writeString(in, lines.mkString("\n"))
      val clean = runJob(spark, WordCount, "o9clean2", in)
      val flaky = runJob(spark, FlakyMap, "o9flakymap", in)
      assert(flaky == clean)
    }
  }

  test("combining map task failing after a buffer flush is retried; files byte-identical (O9)") {
    withRetrySession { spark =>
      val in = Files.createTempDirectory("o9-in-comb").resolve("input.txt")
      Files.writeString(in, lines.mkString("\n"))
      val cleanDir = runJobDir(spark, WordCount, "o9clean3", in)
      FlakyCombiningMap.linesSeen.clear()
      FlakyCombiningMap.reducesSeen.clear()
      FlakyCombiningMap.flushesAtFailure.clear()
      val flakyDir = runJobDir(spark, FlakyCombiningMap, "o9flakycomb", in, combineCap = Some(4))
      assert(FlakyCombiningMap.flushesAtFailure.nonEmpty, "failure injection never ran")
      assert(FlakyCombiningMap.flushesAtFailure.values.forall(_ > 0),
        s"a map task died before its buffer flushed: ${FlakyCombiningMap.flushesAtFailure}")
      (0 until 4).foreach { r =>
        val clean = Files.readAllBytes(cleanDir.resolve(s"o9clean3_result_$r")).toSeq
        val flaky = Files.readAllBytes(flakyDir.resolve(s"o9flakycomb_result_$r")).toSeq
        assert(flaky == clean, s"result file $r differs")
      }
    }
  }

  test("without retries, the same injected failure fails the job (control)") {
    graft.SparkSpec.reset()
    val s = SparkSession.builder()
      .master("local[4]") // 1 attempt per task
      .appName("graft-failure-control")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    try {
      val in = Files.createTempDirectory("o9-in-ctl").resolve("input.txt")
      Files.writeString(in, lines.mkString("\n"))
      intercept[org.apache.spark.SparkException] {
        runJob(s, FlakyMap, "o9control", in)
      }
    } finally {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
