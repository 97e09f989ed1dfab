package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import graft.apps.Apps
import graft.engine.{MapReduce, SequentialOracle}

/** Differential golden tests (SURVEY §5.1): each app runs on an
  * 8-book corpus (`MrCorpus`, generated with the lab corpus's size
  * profile) through the distributed engine AND the in-process
  * sequential oracle; outputs canonicalized exactly like the
  * reference's harness (`sort mr-out* | cmp`, the reference's
  * main/test-mr.sh:103-110).
  */
class MapReduceParitySpec extends SparkSpec {
  private def corpusFiles = MrCorpus.files

  /** The reference's literal wc reduce, `len(values)` (mrapps/wc.go:37):
    * the oracle for `Apps.WordCount`, whose reduce sums partial counts. */
  private val referenceWcReduce: MapReduce.ReduceF = (_, values) => values.size.toString

  /** `Apps.WordCount.reduce` as a plain reduce, which `result` does not
    * combine map-side. */
  private val uncombinedWcReduce: MapReduce.ReduceF =
    (k, values) => Apps.WordCount.reduce(k, values)

  /** Canonical job result: all outputs as sorted "key value" lines
    * (test-mr.sh:103 `sort mr-out* | grep .`).
    */
  private def canon(rows: Seq[(String, String)]): Seq[String] =
    rows.map { case (k, v) => s"$k $v" }.sorted

  private def differential(name: String, mapF: MapReduce.MapF,
                           reduceF: MapReduce.ReduceF,
                           oracleReduceF: Option[MapReduce.ReduceF] = None): Unit = test(name) {
    assert(corpusFiles.size == 8, s"expected 8 corpus files, got $corpusFiles")
    val engine = MapReduce.result(spark, corpusFiles, mapF, reduceF).collect().toSeq
    val oracle = SequentialOracle.run(MrCorpus.inMemory, mapF, oracleReduceF.getOrElse(reduceF))
    assert(canon(engine) == canon(oracle))
  }

  differential("wc matches sequential oracle on pg corpus",
    Apps.WordCount.map, Apps.WordCount.reduce, Some(referenceWcReduce))
  differential("indexer matches sequential oracle on pg corpus",
    Apps.InvertedIndex.map, Apps.InvertedIndex.reduce)
  differential("sorted-multiset agg matches sequential oracle on pg corpus",
    Apps.SortedMultisetAgg.map, Apps.SortedMultisetAgg.reduce)
  differential("file count matches sequential oracle on pg corpus",
    Apps.FileCount.map, Apps.FileCount.reduce)

  test("wc output is invariant under shuffle partitioning (1, 3, 10)") {
    val results = Seq("1", "3", "10").map { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p)
      try {
        val Seq(combined, uncombined) = Seq(Apps.WordCount.reduce, uncombinedWcReduce).map(r =>
          canon(MapReduce.result(spark, corpusFiles, Apps.WordCount.map, r).collect().toSeq))
        assert(combined == uncombined, s"combined and uncombined wc differ at $p partitions")
        combined
      }
      finally spark.conf.set("spark.sql.shuffle.partitions", "8")
    }
    assert(results.distinct.size == 1)
  }

  /** Shuffle records the jobs of `body` write, summed from the completed
    * stages' `shuffleWriteMetrics.recordsWritten`. */
  private def shuffleRecords(body: => Unit): Long = {
    val sc = spark.sparkContext
    val group = s"shuffle-records-${System.nanoTime()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(stages.add)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId))
          records.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "shuffle record count")
    try body
    finally {
      sc.clearJobGroup()
      GraftTestShim.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    records.get
  }

  test("combined wc shuffles fewer records than the corpus has tokens") {
    def wc(reduceF: MapReduce.ReduceF) = shuffleRecords {
      MapReduce.result(spark, corpusFiles, Apps.WordCount.map, reduceF).collect()
    }
    val uncombined = wc(uncombinedWcReduce)
    val combined = wc(Apps.WordCount.reduce)
    assert(uncombined == MrCorpus.tokens,
      s"uncombined wc shuffles one record per token: $uncombined vs ${MrCorpus.tokens}")
    assert(combined > 0 && combined < MrCorpus.tokens,
      s"combined wc shuffled $combined records for ${MrCorpus.tokens} tokens")
  }

  test("text sink writes nReduce partitions in 'key value' format") {
    val out = Files.createTempDirectory("mr-out").toString
    MapReduce.run(spark, corpusFiles.take(2), 5,
      Apps.FileCount.map, Apps.FileCount.reduce, out)
    // Spark's writer skips empty partitions (the reference writes empty
    // mr-out-<r> files; both are invisible after the harness's
    // concat+sort canonicalization, test-mr.sh:103).
    val parts = Files.list(Paths.get(out)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("part-")).toSeq
    assert(parts.nonEmpty && parts.size <= 5)
    val lines = parts.flatMap(p =>
      Files.readAllLines(Paths.get(out, p)).asScala).sorted.filter(_.nonEmpty)
    assert(lines == corpusFiles.take(2)
      .map(p => p.substring(p.lastIndexOf('/') + 1) + " 1").sorted)
  }

  test("text sink plans one nReduce-way exchange on the key") {
    Seq(Apps.WordCount.reduce, uncombinedWcReduce).foreach { reduceF =>
      val df = MapReduce.outputLines(spark, corpusFiles, 5, Apps.WordCount.map, reduceF)
      df.collect()
      // the finalized adaptive plan prints its initial plan as well;
      // count in the final section only
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert("Exchange".r.findAllIn(plan).length == 1, s"expected one exchange:\n$plan")
      assert(plan.contains("hashpartitioning(_1") && plan.contains(", 5)"),
        s"expected the exchange to be the 5-way hash on the key:\n$plan")
    }
  }
}
