package graft.core

import graft.SparkSpec
import graft.tasks.WordCount
import java.nio.file.Files
import org.apache.spark.sql.execution.MapPartitionsExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

class AdjacentGroupsSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("groups adjacent equal keys and streams values") {
    val in = Iterator(("a", "1"), ("a", "2"), ("b", "3"), ("c", "4"), ("c", "5"))
    val out = MapReduceJob.adjacentGroups(in).map { case (k, vs) => (k, vs.toList) }.toList
    assert(out == List(("a", List("1", "2")), ("b", List("3")), ("c", List("4", "5"))))
  }

  test("drains unconsumed values when caller skips a group's iterator") {
    val in = Iterator(("a", "1"), ("a", "2"), ("b", "3"))
    val out = MapReduceJob.adjacentGroups(in).map { case (k, _) => k }.toList
    assert(out == List("a", "b"))
  }

  test("empty input yields no groups") {
    assert(MapReduceJob.adjacentGroups(Iterator.empty).isEmpty)
  }
}

/** A word count whose reduce is not declared combinable: the reference's
  * one-pair-per-occurrence shuffle, as the control for the combining path.
  */
private object PlainWordCount extends MapReduceTask {
  override def map(line: String): IterableOnce[(String, String)] = WordCount.map(line)
  override def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)] =
    WordCount.reduce(key, values)
}

/** Breaks the combiner key contract: its reduce renames the key it was given. */
private object RenamingCombiner extends MapReduceTask {
  override def combinable: Boolean = true
  override def map(line: String): IterableOnce[(String, String)] = WordCount.map(line)
  override def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)] =
    WordCount.reduce(key, values).iterator.map { case (k, v) => (k.toUpperCase, v) }
}

class CombineSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val words = (1 to 1000).map(i => s"w${i % 7 * (i % 13)}")
  private def pairs = words.iterator.map(w => (w, "1"))

  private def totals(out: Iterator[(String, String)]): Map[String, Long] =
    out.toSeq.groupMapReduce(_._1)(_._2.toLong)(_ + _)

  test("a tiny cap flushes several times and gives the unbounded cap's totals") {
    val unbounded = MapReduceJob.combine(pairs, WordCount, Int.MaxValue).toSeq
    assert(unbounded.map(_._1).distinct.size == unbounded.size, "one pair per key per flush")
    val tiny = MapReduceJob.combine(pairs, WordCount, 16).toSeq
    assert(tiny.size > unbounded.size, "the tiny cap never flushed mid-input")
    assert(totals(tiny.iterator) == totals(unbounded.iterator))
    assert(totals(unbounded.iterator) == words.groupMapReduce(identity)(_ => 1L)(_ + _))
  }

  test("a cap of one pair passes every pair through reduce alone") {
    val out = MapReduceJob.combine(pairs, WordCount, 1).toSeq
    assert(out == words.map(w => (w, "1")))
  }

  test("an empty partition gives no pairs") {
    assert(MapReduceJob.combine(Iterator.empty, WordCount, 16).isEmpty)
  }

  test("a combining reduce that emits another key fails with a clear message") {
    val e = intercept[IllegalStateException] {
      MapReduceJob.combine(pairs, RenamingCombiner, 16).toList
    }
    assert(e.getMessage.contains("must emit only the key it was given"), e.getMessage)
  }
}

class JobSpecSpec extends org.scalatest.funsuite.AnyFunSuite {
  private def base = JobSpec(
    numWorkers = 6,
    workerAddrs = (1 to 6).map(i => s"localhost:5005$i"),
    inputFiles = Seq("/etc/hostname"),
    outputDir = "/tmp/out",
    numOutputs = 8,
    mapKilobytes = 500,
    userId = "cs6210"
  )

  test("valid spec passes (reference mapreduce_spec.h:51-64 parity)") {
    assert(base.validate().isRight)
  }
  test("rejects worker count mismatch") {
    assert(base.copy(numWorkers = 3).validate().isLeft)
  }
  test("rejects non-positive R / shard size / empty user") {
    assert(base.copy(numOutputs = 0).validate().isLeft)
    assert(base.copy(mapKilobytes = 0).validate().isLeft)
    assert(base.copy(userId = "").validate().isLeft)
    assert(base.copy(outputDir = "").validate() == Left("output_dir must be non-empty"))
  }
  test("rejects unreadable input file") {
    assert(base.copy(inputFiles = Seq("/nonexistent/x.txt")).validate().isLeft)
  }
  test("parses INI key=value config") {
    val f = Files.createTempFile("cfg", ".ini")
    Files.writeString(
      f,
      """n_workers=2
        |worker_ipaddr_ports=localhost:1,localhost:2
        |input_files=/etc/hostname
        |output_dir=/tmp/o
        |n_output_files=4
        |map_kilobytes=500
        |user_id=cs6210
        |""".stripMargin
    )
    val s = JobSpec.fromConfig(f.toString)
    assert(s.numWorkers == 2 && s.numOutputs == 4 && s.userId == "cs6210")
    assert(s.validate().isRight)
  }
  test("non-integer numeric keys are a validation error, not a parse exception") {
    val ok = Map("n_workers" -> "1", "input_files" -> "/etc/hostname", "output_dir" -> "/tmp/o",
      "n_output_files" -> "4", "map_kilobytes" -> "500", "user_id" -> "cs6210")
    assert(JobSpec.fromMap(ok).validate().isRight)
    for ((k, bad) <- Seq("n_workers" -> "two", "n_output_files" -> "4.5", "map_kilobytes" -> "99999999999")) {
      val v = JobSpec.fromMap(ok + (k -> bad)).validate()
      assert(v == Left(s"$k must be an integer, got '$bad'"), v)
    }
  }
}

class WordCountJobSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val lines = Seq(
    "dairy respect gazing Savannah.nanoseconds. waxiest small fustiest.",
    "the quick, brown \"fox\" jumps. the 'lazy' dog",
    "",
    "...,,''\"\"",
    "the the the"
  )

  /** Independent in-memory oracle with the same tokenizer semantics. */
  private def oracle(ls: Seq[String]): Map[String, Long] =
    ls.flatMap(_.split(WordCount.DelimRegex)).filter(_.nonEmpty).groupBy(identity).view.mapValues(_.size.toLong).toMap

  private def runJob(r: Int): (Map[String, Long], Seq[Seq[String]]) = {
    val out = runTask(WordCount, "cs6210", lines, r)
    val perFile = (0 until r).map(i => Files.readAllLines(out.resolve(s"cs6210_result_$i")).asScala.toSeq)
    val all = perFile.flatten.map { l =>
      val i = l.lastIndexOf(' '); (l.substring(0, i), l.substring(i + 1).toLong)
    }.toMap
    (all, perFile)
  }

  /** Run `task` as user `id` over `input` with R=`r`; returns the output dir after
    * checking all R result files exist.
    */
  private def runTask(
      task: MapReduceTask,
      id: String,
      input: Seq[String],
      r: Int,
      mapKilobytes: Int = 500,
      combineCap: Option[Int] = None
  ): java.nio.file.Path = {
    val in = Files.createTempDirectory("wc-in")
    val out = Files.createTempDirectory("wc-out")
    Files.writeString(in.resolve("input.txt"), input.mkString("\n"))
    TaskRegistry.register(id, task)
    val spec =
      JobSpec(1, Seq("localhost:1"), Seq(in.resolve("input.txt").toString), out.toString, r, mapKilobytes, id)
    combineCap.fold(MapReduceJob.run(spark, spec))(MapReduceJob.run(spark, spec, _))
    (0 until r).foreach(i => assert(Files.exists(out.resolve(s"${id}_result_$i")), s"missing result file $i"))
    out
  }

  /** A multi-split Zipf-ish corpus: hot keys repeat within and across map tasks. */
  private val corpus = (1 to 3000).map { i =>
    (0 until 6).map(j => s"w${(i * 31 + j * 17) % (1 + (i % 97) * (j + 1))}").mkString(" ", ", ", ".")
  }

  private def bytes(dir: java.nio.file.Path, id: String, r: Int): Seq[Seq[Byte]] =
    (0 until r).map(i => Files.readAllBytes(dir.resolve(s"${id}_result_$i")).toSeq)

  test("end-to-end word count matches independent oracle, R=8") {
    val (got, perFile) = runJob(8)
    assert(got == oracle(lines))
    // keys sorted within each result file (description.md:62 contract)
    perFile.foreach(f => assert(f == f.sorted, "keys not sorted within file"))
  }

  test("partition-count invariance: R=1 equals R=8 (SURVEY §5 property)") {
    assert(runJob(1)._1 == runJob(8)._1)
  }

  test("MapReduceTask path agrees with declarative DataFrame path") {
    import spark.implicits._
    val ds = spark.createDataset(lines)
    val df = WordCount.dataFrameQuery(ds).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df == oracle(lines))
  }

  test("combining and non-combining word count write byte-identical files, R=1 and R=8") {
    for (r <- Seq(1, 8)) {
      val plain = bytes(runTask(PlainWordCount, "wcplain", corpus, r, mapKilobytes = 4), "wcplain", r)
      val combined = bytes(runTask(WordCount, "wccomb", corpus, r, mapKilobytes = 4), "wccomb", r)
      val flushed = bytes(runTask(WordCount, "wcflush", corpus, r, mapKilobytes = 4, combineCap = Some(8)), "wcflush", r)
      assert(plain.exists(_.nonEmpty))
      assert(combined == plain, s"R=$r: combining output differs")
      assert(flushed == plain, s"R=$r: output with a flushing buffer differs")
    }
  }

  test("a session maxRecordsPerFile does not split a reduce partition's result file") {
    val key = "spark.sql.files.maxRecordsPerFile"
    val r = 4
    val plain = bytes(runTask(WordCount, "wcplain", corpus, r), "wcplain", r)
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "2")
    try {
      val capped = bytes(runTask(WordCount, "wccapped", corpus, r), "wccapped", r)
      assert(plain.forall(_.count(_ == '\n') > 2), "every result file must hold more than two lines")
      assert(capped == plain, "result files differ under a session maxRecordsPerFile")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the map phase of a combinable task is one MapSideCombine stage") {
    import spark.implicits._
    def combines(task: MapReduceTask): Boolean = {
      val ds = MapReduceJob.reduceSorted(MapReduceJob.mapPhase(spark.createDataset(lines), task), task, 2)
      new AdaptiveSparkPlanHelper {}.collect(ds.queryExecution.executedPlan) {
        case m: MapPartitionsExec => m.func
      }.exists(_.isInstanceOf[MapReduceJob.MapSideCombine])
    }
    assert(combines(WordCount))
    assert(!combines(PlainWordCount))
  }

  test("a combining reduce that renames its key fails the job") {
    val e = intercept[org.apache.spark.SparkException] {
      runTask(RenamingCombiner, "wcrename", lines, 2)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("must emit only the key it was given")), e)
  }

  test("reduce streams values (group larger than a small buffer)") {
    val vs = Iterator.fill(100000)("1")
    val out = WordCount.reduce("k", vs).iterator.toList
    assert(out == List(("k", "100000")))
  }
}
