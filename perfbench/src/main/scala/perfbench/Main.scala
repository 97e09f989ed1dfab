package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.SparkEntry
import graft.apps.Apps
import graft.engine.{MapReduce, SequentialOracle}
import graft.ext.PlanCache

/** The benchmark's driver process: one SparkSession at local[cores], one
  * client in a closed loop (each operation starts when the previous one
  * has completed), calling the engine's public entry points.
  *
  * It records raw timings and, in a traced run, spans; `run.py` turns them
  * into metrics and checks the outputs. Arguments are `--key value` pairs:
  *
  *   --mode run --workload W --seed N --seconds S --trace 0|1 --cores C
  *     --out DIR --work DIR (--rows a,b,c --data DIR | --corpus DIR)
  *   --mode oracle-sql --out FILE
  */
object Main {
  /** An operation returns its result; each call writes it with `noop`.
    * `checked` rows have their result checked against the oracle's. */
  private final case class Op(name: String, result: () => Dataset[_], checked: Boolean)
  private final case class OpRec(id: Long, name: String, phase: String, pass: Int,
                                 start: Double, end: Double, err: Option[String])

  /** The four reference apps `mr_corpus` runs through `MapReduce.result`. */
  private val MrApps = Seq(
    ("wc", Apps.WordCount.map, Apps.WordCount.reduce),
    ("indexer", Apps.InvertedIndex.map, Apps.InvertedIndex.reduce),
    ("sorted_multiset", Apps.SortedMultisetAgg.map, Apps.SortedMultisetAgg.reduce),
    ("file_count", Apps.FileCount.map, Apps.FileCount.reduce))

  /** Warm-up rounds at the timed data, per workload, with the default
    * tiered JIT. On a 4-core box `mr_corpus` rounds fell from about 5.7 s
    * to 1.8 s by the fifth and by a few percent more up to the tenth;
    * `stream_maintain`'s first round takes about 20 s and its second
    * about 12 s, within 20% of a timed pass. More rounds would not fit the
    * run time. */
  private val WarmRounds = Map("mr_corpus" -> 8, "stream_maintain" -> 2)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds on the monotonic clock, comparable with Spark's event times. */
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    opt("mode") match {
      case "oracle-sql" =>
        json.writeValue(new java.io.File(opt("out")), SparkEntry.oracleSql)
      case "run" => run(opt)
    }
  }

  private def noop(df: Dataset[_]): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
  private def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  private def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.startsWith("CodeHeap") || p.getName.replace(" ", "") == "CodeCache")
    .map(_.getUsage.getUsed).sum / 1048576.0

  private def run(opt: Map[String, String]): Unit = {
    val t0 = nowMs
    val cores = opt("cores").toInt
    val out = opt("out")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    // one trivial query, so that the first operation's warm-up does not
    // also carry the JVM's first-query class loading
    noop(spark.range(1000).selectExpr("sum(id)"))
    val sessionS = (nowMs - t0) / 1e3

    val ops: Seq[Op] = opt("workload") match {
      case "mr_corpus" =>
        val dir = opt("corpus")
        val files = new java.io.File(dir).listFiles.map(_.getPath).sorted.toSeq
        MrApps.map { case (name, m, r) =>
          Op(name, () => MapReduce.result(spark, files, m, r), checked = false)
        }
      case _ =>
        val data = opt("data")
        opt("rows").split(",").toSeq.map { row =>
          val fn = SparkEntry.queries(row)
          Op(row, () => fn(spark, data), checked = true)
        }
    }

    var nextId = 0L
    def call(name: String, phase: String, pass: Int, body: () => Unit): OpRec = {
      nextId += 1
      sc.setLocalProperty(Tracer.OpKey, nextId.toString)
      val s = nowMs
      val err = try { body(); None } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e")
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val rec = OpRec(nextId, name, phase, pass, s, nowMs, err)
      sc.setLocalProperty(Tracer.OpKey, null)
      rec
    }

    // Warm-up at the timed data, with the calls the timed passes make:
    // JIT, codegen and PlanCache builds.
    val lastResult = scala.collection.mutable.Map.empty[String, Dataset[_]]
    def callOp(op: Op, phase: String, pass: Int): OpRec = call(op.name, phase, pass, () => {
      val df = op.result()
      lastResult(op.name) = df
      noop(df)
    })
    val warm = Seq.newBuilder[(OpRec, Int, Int)]
    val roundS = (0 until WarmRounds(opt("workload"))).map { round =>
      val rs = nowMs
      ops.foreach { op =>
        val before = PlanCache.size
        val r = callOp(op, "warm", round)
        warm += ((r, before, PlanCache.size))
      }
      (nowMs - rs) / 1e3
    }
    val setupS = (nowMs - t0) / 1e3

    val rng = new scala.util.Random(opt("seed").toLong)
    val recs = Seq.newBuilder[OpRec]
    val passes = Seq.newBuilder[Map[String, Any]]
    var pass = 0
    // Passes that fit in `budget` seconds, at least one: a later pass starts
    // only if one more pass as long as the last still ends within the budget,
    // so that a workload of long passes does not overrun it by a pass.
    def passesFor(phase: String, budget: Double): Map[String, Double] = {
      val gc0 = gcMs
      val jit0 = jitMs
      val start = nowMs
      var n = 0
      var last = 0.0
      while (n == 0 || nowMs - start + last <= budget * 1e3) {
        val ps = nowMs
        rng.shuffle(ops).foreach(op => recs += callOp(op, phase, pass))
        passes += Map("pass" -> pass, "phase" -> phase, "start" -> ps, "end" -> nowMs)
        last = nowMs - ps
        pass += 1
        n += 1
      }
      Map("gc_ms" -> (gcMs - gc0), "jit_ms" -> (jitMs - jit0))
    }
    val jvm = Map.newBuilder[String, Any]
    if (traced) {
      // untraced passes first, then the same passes traced: the ratio of
      // their pass times is the tracing overhead
      jvm += "timed" -> passesFor("timed", seconds / 2)
      val tracer = new Tracer(spark)
      tracer.start()
      jvm += "traced" -> passesFor("traced", seconds / 2)
      tracer.stop()
      val opSpans = recs.result().filter(_.phase == "traced").map(r =>
        Span("op", r.name, s"o${r.id}", "", r.id, r.start, r.end,
          Map("ok" -> (if (r.err.isEmpty) 1.0 else 0.0))))
      val w = Files.newBufferedWriter(Paths.get(out, "spans.jsonl"), UTF_8)
      try (opSpans ++ tracer.spans.asScala).foreach { s =>
        w.write(json.writeValueAsString(s))
        w.newLine()
      } finally w.close()
    } else {
      jvm += "timed" -> passesFor("timed", seconds)
    }
    jvm += "code_cache_mb" -> codeCacheMb
    // used heap after full collections: what the run retains
    System.gc(); System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    jvm += "retained_heap_mb" -> heap

    // The output checks, after the measured passes so that they disturb
    // neither the warm-up nor the timing: each row's last result, written
    // once. A streaming row's result reads the sink or store its call left
    // behind, so the row is not run again.
    val checks = ops.filter(op => op.checked && lastResult.contains(op.name)).map(op =>
      call(op.name, "check", 0, () =>
        lastResult(op.name).coalesce(1).write.mode("overwrite").parquet(s"$out/check/${op.name}")))
    val mrCheck =
      if (opt("workload") == "mr_corpus") checkMapReduce(spark, opt("corpus")) else Nil

    def rec(r: OpRec): Map[String, Any] = Map("id" -> r.id, "name" -> r.name,
      "phase" -> r.phase, "pass" -> r.pass, "start" -> r.start, "end" -> r.end,
      "err" -> r.err)
    val result = Map(
      "workload" -> opt("workload"), "cores" -> cores,
      "session_s" -> sessionS, "setup_s" -> setupS, "warm_round_s" -> roundS,
      "warm" -> warm.result().map { case (r, b, a) => rec(r) ++ Map("plancache_before" -> b, "plancache_after" -> a) },
      "checks" -> checks.map(rec),
      "ops" -> recs.result().map(rec), "passes" -> passes.result(),
      "mr_check" -> mrCheck, "jvm" -> jvm.result(),
      "plancache_entries" -> PlanCache.size)
    json.writeValue(new java.io.File(out, "result.json"), result)
    spark.stop()
  }

  /** Engine output against SequentialOracle on the same corpus, as the
    * parity spec compares them: sorted `key value` lines. Also times the
    * oracle, the single-threaded baseline for the same job. */
  private def checkMapReduce(spark: SparkSession, dir: String): Seq[Map[String, Any]] = {
    import spark.implicits._
    val files = new java.io.File(dir).listFiles.sortBy(_.getName).toSeq
    val files0 = files.map(_.getPath)
    val inputs = files.map(f => f.getName -> new String(Files.readAllBytes(f.toPath), UTF_8))
    MrApps.map { case (name, m, r) =>
      val engine = MapReduce.result(spark, files0, m, r).collect()
        .map { case (k, v) => s"$k $v" }.sorted.toSeq
      val s = System.nanoTime()
      val oracle = SequentialOracle.run(inputs, m, r)
      val seqS = (System.nanoTime() - s) / 1e9
      val lines = oracle.map { case (k, v) => s"$k $v" }.sorted
      Map("app" -> name, "ok" -> (engine == lines), "engine_rows" -> engine.size,
        "oracle_rows" -> lines.size, "sequential_s" -> seqS)
    }
  }
}
