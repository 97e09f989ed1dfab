package graft.engine

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The MR-parity API — the reference's entire extensibility surface
  * (SURVEY.md §2.3.10) re-expressed on Datasets.
  *
  * Reference shapes:
  *  - Map:    `func(filename, contents string) []mr.KeyValue`
  *    (/root/reference/src/mrapps/wc.go:19, loaded src/main/mrworker.go:32-49)
  *  - Reduce: `func(key string, values []string) string`
  *    (/root/reference/src/mrapps/wc.go:37)
  *
  * Differences that matter at 100 TB:
  *  - `ReduceF` receives an Iterator, not an in-RAM slice — the
  *    reference buffers every group in memory
  *    (src/mr/worker.go:145-156); Spark's sort-based `mapGroups`
  *    streams and spills.
  *  - The shuffle is Spark's binary spillable exchange, not JSON
  *    files on shared NFS (src/mr/worker.go:81-100).
  *  - The map→reduce phase barrier, straggler re-execution (10 s
  *    requeue, src/mr/coordinator.go:114-138), idempotent commit and
  *    atomic output publish are all inherited from Spark's scheduler,
  *    task retry, and FileOutputCommitter — zero user code (SURVEY §4).
  *  - A reduce typed [[CombinableReduce]] also runs inside each map
  *    task, on that task's own pairs, before the shuffle: the combiner
  *    of Dean & Ghemawat, "MapReduce" (OSDI 2004) §4.3, which the
  *    reference does not have. The shuffle then carries one partial
  *    per (task, key) instead of one pair per map output.
  */
object MapReduce {
  /** One input record in, zero-or-more KV pairs out — a UDTF. */
  type MapF = (String, String) => Iterator[(String, String)]

  /** All values of one key in (streaming), one value out — a UDAF over
    * pre-grouped input.
    */
  type ReduceF = (String, Iterator[String]) => String

  /** A reduce that may also run on partial groups, declared by its type.
    * It must obey the combiner law: for every key `k`, every split of
    * the values `vs` into parts `p1 … pn` and every order of `vs`,
    * {{{
    * reduce(k, vs) == reduce(k, [reduce(k, p1), …, reduce(k, pn)])
    * }}}
    * i.e. its output is a valid input to itself and the order of its
    * inputs does not matter (a count-as-sum does; "sorted list of
    * values" does not, because its output is no longer one value).
    *
    * [[result]] folds each map task's pairs through it into a per-task
    * hash map before the shuffle. The map holds one entry of at most 64
    * values per distinct key of the task's files, and keys are
    * substrings of the whole-file contents the task already holds, so it
    * is bounded by that input.
    */
  trait CombinableReduce extends ReduceF with Serializable

  /** Values a map task holds per key before it folds them into one. */
  private val CombineBatch = 64

  /** Whole-file scan (E1): one record = (fileName, entireContents),
    * exactly the reference's map-task granularity
    * (src/mr/worker.go:59-71, src/mr/coordinator.go:154-162). The file
    * name is the path's basename, matching the reference's os.Args
    * file names.
    */
  def wholeFiles(spark: SparkSession, inputs: Seq[String]): Dataset[(String, String)] = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(inputs: _*)
      .select(substring_index(input_file_name(), "/", -1), col("value"))
      .as[(String, String)]
  }

  /** The full job as a Dataset: scan → flatMap(mapF) → shuffle on key →
    * per-key reduce. The key exchange IS the reference's map/reduce
    * phase barrier (E10). A [[CombinableReduce]] also runs map-side, so
    * its reduce sees partials.
    */
  def result(spark: SparkSession, inputs: Seq[String],
             mapF: MapF, reduceF: ReduceF): Dataset[(String, String)] =
    reduceByKey(spark, mapOutputs(spark, inputs, mapF, reduceF), reduceF)

  /** What `run` writes: `key value` lines in `nReduce` partitions
    * (src/mr/worker.go:161 "%v %v\n"). The reduce reads its groups
    * straight from the one `nReduce`-way exchange on the key.
    */
  def outputLines(spark: SparkSession, inputs: Seq[String], nReduce: Int,
                  mapF: MapF, reduceF: ReduceF): DataFrame =
    reduceByKey(spark,
      mapOutputs(spark, inputs, mapF, reduceF).repartition(nReduce, col("_1")), reduceF)
      .select(concat_ws(" ", col("_1"), col("_2")))

  /** Run a job end-to-end to a partitioned text sink (E9): lines of
    * `key value`, `nReduce` output partitions (≡ mr-out-<r> files),
    * atomic commit via Spark's FileOutputCommitter (≡ tmp+rename,
    * src/mr/worker.go:139,165).
    */
  def run(spark: SparkSession, inputs: Seq[String], nReduce: Int,
          mapF: MapF, reduceF: ReduceF, outDir: String): Unit =
    outputLines(spark, inputs, nReduce, mapF, reduceF)
      .write.mode("overwrite").text(outDir)

  /** The map phase's pairs: every map output, or for a
    * [[CombinableReduce]] one partial per distinct key of each task. A
    * failed task attempt drops its map with it, so a retry folds from
    * scratch.
    */
  private def mapOutputs(spark: SparkSession, inputs: Seq[String],
                         mapF: MapF, reduceF: ReduceF): Dataset[(String, String)] = {
    import spark.implicits._
    val files = wholeFiles(spark, inputs)
    reduceF match {
      case combine: CombinableReduce =>
        files.mapPartitions { it =>
          // values wait per key and are folded CombineBatch at a time:
          // one reduce call per batch, not one per map output
          val acc = new java.util.HashMap[String, ArrayBuffer[String]]()
          it.foreach { case (file, contents) =>
            mapF(file, contents).foreach { case (k, v) =>
              val vs = acc.computeIfAbsent(k, _ => ArrayBuffer.empty[String])
              vs += v
              if (vs.length == CombineBatch) {
                val partial = combine(k, vs.iterator)
                vs.clear()
                vs += partial
              }
            }
          }
          acc.entrySet.iterator.asScala.map(e => (e.getKey, combine(e.getKey, e.getValue.iterator)))
        }
      case _ =>
        files.flatMap { case (file, contents) => mapF(file, contents) }
    }
  }

  /** Groups by the key column, not by a key function: the grouping then
    * reuses an exchange already hash-partitioned on `_1`. */
  private def reduceByKey(spark: SparkSession, kvs: Dataset[(String, String)],
                          reduceF: ReduceF): Dataset[(String, String)] = {
    import spark.implicits._
    kvs.groupBy(col("_1")).as[String, (String, String)]
      .mapGroups { (key, rows) => (key, reduceF(key, rows.map(_._2))) }
  }
}

/** Single-threaded in-process twin of the reference's sequential
  * runner (/root/reference/src/main/mrsequential.go:25-87) — the
  * semantic oracle for the differential tests (SURVEY §5.1).
  */
object SequentialOracle {
  def run(inputs: Seq[(String, String)],
          mapF: MapReduce.MapF, reduceF: MapReduce.ReduceF): Seq[(String, String)] = {
    val intermediate = inputs.flatMap { case (f, c) => mapF(f, c) } // scan+flatMap+union
    intermediate
      .sortBy(_._1)                                                // global sort (:59)
      .groupBy(_._1)                                               // run-scan grouping (:68-77)
      .toSeq.sortBy(_._1)
      .map { case (k, kvs) => (k, reduceF(k, kvs.iterator.map(_._2))) }
  }
}
