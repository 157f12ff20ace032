package graft.sinks

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.SparkSpec

class CsvSinkSpec extends SparkSpec {

  test("writes a single headered csv when asked") {
    import spark.implicits._
    SparkSpec.withTempDir("csvsink") { tmp =>
      val dir = s"$tmp/out"
      CsvSink.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), dir,
        singleFile = true)
      val files = Files.list(Paths.get(dir)).toArray.map(_.toString)
        .filter(_.endsWith(".csv"))
      assert(files.length === 1)
      val lines = scala.util.Using(scala.io.Source.fromFile(files.head))(
        _.getLines().toSeq).get
      assert(lines.head === "id,v")
      assert(lines.tail.sorted === Seq("1,a", "2,b"))
    }
  }

  test("partitioned layout: a partition-column filter prunes the scan (q179)") {
    import spark.implicits._
    SparkSpec.withTempDir("graft_prune_spec") { tmp =>
      Seq((1L, "en"), (2L, "de"), (3L, "en"))
        .toDF("id", "lang")
        .write.partitionBy("lang").parquet(s"$tmp/c")
      val read = spark.read.parquet(s"$tmp/c")
        .filter(org.apache.spark.sql.functions.col("lang") === "en")
      val plan = read.queryExecution.executedPlan.toString
      // the filter must land in PartitionFilters (directory pruning),
      // not survive as a post-scan Filter over all partitions
      assert(plan.contains("PartitionFilters: [isnotnull(lang"),
        s"partition filter not pushed:\n$plan")
      assert(read.select("id").collect().map(_.getLong(0)).sorted
        === Array(1L, 3L))
    }
  }

  test("data-dependent dim join plants a dynamic partition filter (q259)") {
    import spark.implicits._
    SparkSpec.withTempDir("graft_dpp_spec") { tmp =>
      // facts partitioned by k; dim keys are DATA-DEPENDENT (an agg
      // over another frame), so only runtime pruning can skip dirs
      (1 to 100).map(i => (i.toLong, s"t${i % 4}"))
        .toDF("id", "k")
        .write.partitionBy("k").parquet(s"$tmp/facts")
      val facts = spark.read.parquet(s"$tmp/facts")
      val dim = (1 to 50).map(i => s"t${i % 2}").toDF("k")
        .groupBy("k").count().filter(col("count") > 10)
      val joined = facts.join(dim, Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"no dynamic partition pruning in plan:\n$plan")
      // and the pruned join still returns exactly t0/t1 facts
      assert(joined.count() === 50L)
    }
  }

  test("repartitionByRange + sortWithinPartitions yields disjoint per-file key ranges (q189)") {
    import spark.implicits._
    SparkSpec.withTempDir("graft_range_spec") { tmp =>
      (1L to 400L).map(i => (i, i % 97)).toDF("id", "key")
        .repartitionByRange(4, col("key"), col("id"))
        .sortWithinPartitions(col("key"), col("id"))
        .write.parquet(s"$tmp/c")
      val files = new java.io.File(s"$tmp/c").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length === 4)
      val ranges = files.map { f =>
        val r = spark.read.parquet(f.getPath)
          .agg(org.apache.spark.sql.functions.min("key"),
            org.apache.spark.sql.functions.max("key"))
          .collect().head
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
      // totally ordered layout: file N's max < file N+1's min ⇒ a
      // range reader can prune whole files
      ranges.sliding(2).foreach {
        case Array((_, hi), (lo2, _)) => assert(hi <= lo2)
        case _ =>
      }
    }
  }

  test("maxRecordsPerFile splits one task's output into capped files (q183)") {
    import spark.implicits._
    SparkSpec.withTempDir("graft_mrpf_spec") { tmp =>
      (1L to 250L).toDF("id").repartition(1)
        .write.option("maxRecordsPerFile", 100).parquet(s"$tmp/c")
      val files = new java.io.File(s"$tmp/c").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length === 3) // 100 + 100 + 50
      val back = spark.read.parquet(s"$tmp/c")
      assert(back.count() === 250L)
      // every file respects the cap
      files.foreach { f =>
        assert(spark.read.parquet(f.getPath).count() <= 100L)
      }
    }
  }
}
