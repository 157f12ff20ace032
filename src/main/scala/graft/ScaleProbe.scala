package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Dev tool: scale linearity of registered queries over N× the input.
  *
  * The queries stay as registered; the data is scaled (the TPC-H rule:
  * regenerate the data at the scale factor, never rewrite a query).
  * For each N the probe writes N copies of every table in
  * [[Tables.names]] to a scratch directory, times the selected
  * [[SparkEntry]] queries over it through [[Bench.measure]] (the
  * bench's per-query state reset and iteration count), then deletes
  * the directory. Copy rules:
  *  - copy 0 is the source file, byte for byte, so ×1 reads the
  *    bench's input. It is not timed as the bench times it: here every
  *    selected query and every N share one JVM and read the median of
  *    the iterations, where the bench runs a query whose prior median
  *    reaches `SoloSecs` alone in a fresh JVM as the min of two runs;
  *  - copy i adds i · 10^8 to every LongType column named `*key` or
  *    `*_id` (c_custkey, o_orderkey, o_custkey, l_orderkey, l_partkey,
  *    l_suppkey, p_partkey, s_suppkey, doc_id, vec_id, event_id,
  *    user_id): primary and foreign keys shift together, so every join
  *    matches within its copy, and a modulus that divides 10^8 keeps
  *    its residue;
  *  - a table with no such column (region, nation) stays one copy, so
  *    the int32 dimension keys (`*_nationkey`, `n_regionkey`) still
  *    join and nation/region nodes do not multiply; no column changes
  *    type;
  *  - copy i ≥ 1 suffixes every token of `documents.text` with `c<i>`:
  *    with shared text every doc has N−1 planted exact copies and a
  *    set-similarity join's pair output grows ×N² by construction.
  * Consequences: a range filter such as `doc_id < c` selects copy 0
  * only; embeddings copies are exact duplicates under new ids; a
  * word-list filter sees tagged tokens as out-of-vocabulary. The raw
  * files are read through [[Tables.load]], so `events.ts` keeps its
  * on-disk layout and [[Tables.events]] still normalises it. Each
  * table becomes a directory of part files, which the batch loaders
  * and [[Tables.stream]] read as they read the single source file.
  *
  * Usage: tools/run.sh graft.ScaleProbe [sfDir] [copies...]
  * (default copies 1 2 5 10). The first N runs in a JVM warmed only
  * by [[Bench.warmUp]]'s two queries; list 1 twice (`1 1 2 4`) to
  * read a warm ×1. `SPARK_GRAFT_PROBE_ONLY=q1,q2` names
  * the queries; by default the 20 slowest by the committed
  * BENCH_DETAIL.json medians. Prints one
  * `[scaleprobe] <name> copies=<n> <sec> s` line per (query, N);
  * a failed query reads -1.00 s, is reported on stderr and makes the
  * exit status 1.
  */
object ScaleProbe {

  /** Copy i's shift of every [[keyColumns]] value. */
  private[graft] val Offset = 100000000L

  /** The columns a copy shifts: LongType, named `*key` or `*_id`. */
  private[graft] def keyColumns(schema: StructType): Seq[String] =
    schema.collect { case f if f.dataType == LongType &&
      (f.name.endsWith("key") || f.name.endsWith("_id")) => f.name }

  /** Write `copies` copies of every table of `sfDir` under `out`, as
    * `<name>.parquet` directories (see [[ScaleProbe]] for the rules).
    */
  private[graft] def writeCopies(spark: SparkSession, sfDir: String,
      copies: Int, out: Path): Unit =
    for (name <- Tables.names) {
      val file = Paths.get(sfDir, s"$name.parquet")
      require(Files.isRegularFile(file), s"$file: expected one parquet file")
      val dst = Files.createDirectories(out.resolve(s"$name.parquet"))
      Files.copy(file, dst.resolve("copy-0.parquet"))
      val src = Tables.load(spark, sfDir, name)
      val keys = keyColumns(src.schema)
      if (keys.nonEmpty && copies > 1)
        (1 until copies).map { i =>
          val shifted = keys.foldLeft(src)((d, k) =>
            d.withColumn(k, col(k) + lit(i * Offset)))
          if (name != "documents") shifted
          else shifted.withColumn("text",
            regexp_replace(col("text"), "(\\S+)", "$1c" + i))
        }.reduce(_ union _).write.mode("append").parquet(dst.toString)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = if (args.length > 1) args.tail.map(_.toInt).toSeq
                 else Seq(1, 2, 5, 10)
    val names = sys.env.get("SPARK_GRAFT_PROBE_ONLY") match {
      case Some(only) => only.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None => Bench.priorMedians.toSeq
        .filter(q => SparkEntry.queries.contains(q._1))
        .sortBy(q => (-q._2, q._1)).take(20).map(_._1)
    }
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not registered queries: ${unknown.mkString(",")}")
    require(names.nonEmpty, "no queries selected (SPARK_GRAFT_PROBE_ONLY " +
      "unset and no prior medians in BENCH_DETAIL.json)")
    val selected = SparkEntry.queries.view.filterKeys(names.toSet).toMap
    val spark = Sessions.localBuilder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var failed = false
    for (n <- copies) {
      val dir = Files.createTempDirectory("graft_scaleprobe_")
      try {
        writeCopies(spark, sfDir, n, dir)
        Bench.warmUp(spark, dir.toString)
        val (results, errors) = Bench.measure(spark, dir.toString, selected,
          Bench.benchIters, useMin = false)
        results.foreach { case (name, sec) =>
          println(f"[scaleprobe] $name%-22s copies=$n%-3d $sec%8.2f s")
        }
        errors.foreach { case (name, msg) =>
          System.err.println(s"[scaleprobe] $name copies=$n failed: $msg")
        }
        failed ||= errors.nonEmpty
      } finally FileUtils.deleteDirectory(dir.toFile)
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
