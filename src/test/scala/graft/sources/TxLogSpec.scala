package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TxLogSpec extends SparkSpec {

  private def withTable(f: String => Unit): Unit =
    SparkSpec.withTempDir("txlog_spec")(tmp => f(s"$tmp/tbl"))

  test("commit numbers versions; append adds, overwrite resets") {
    import spark.implicits._
    withTable { t =>
      assert(TxLog.versions(t).isEmpty)
      assert(TxLog.commit(Seq(1L, 2L).toDF("k"), t, "overwrite", "k") === 0L)
      assert(TxLog.commit(Seq(3L).toDF("k"), t, "append", "k") === 1L)
      assert(TxLog.commit(Seq(9L).toDF("k"), t, "overwrite", "k") === 2L)
      assert(TxLog.versions(t) === Seq(0L, 1L, 2L))
      // current = last overwrite only
      assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet
        === Set(9L))
      // time travel reconstructs each historical live set
      assert(TxLog.read(spark, t, Some(0L)).select("k").as[Long]
        .collect().toSet === Set(1L, 2L))
      assert(TxLog.read(spark, t, Some(1L)).select("k").as[Long]
        .collect().toSet === Set(1L, 2L, 3L))
      // bad mode rejected before any write
      intercept[IllegalArgumentException] {
        TxLog.commit(Seq(1L).toDF("k"), t, "merge", "k")
      }
    }
  }

  test("log carries exact per-file rows and min/max of the stat column") {
    import spark.implicits._
    withTable { t =>
      TxLog.commit((1L to 100L).toDF("k").repartitionByRange(4, col("k")),
        t, "overwrite", "k")
      val lg = TxLog.log(spark, t).collect()
      assert(lg.map(_.getAs[Long]("rows")).sum === 100L)
      assert(lg.map(_.getAs[Long]("mn")).min === 1L)
      assert(lg.map(_.getAs[Long]("mx")).max === 100L)
      // range partitioning ⇒ file ranges are disjoint
      val ranges = lg.map(r =>
        (r.getAs[Long]("mn"), r.getAs[Long]("mx"))).sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hi), (lo2, _)) => assert(hi < lo2)
        case _ =>
      }
    }
  }

  test("footer stats skip files under hidden directories (leftover _temporary/)") {
    import spark.implicits._
    withTable { t =>
      (1L to 100L).toDF("k").repartition(2).write.parquet(t)
      // a failed attempt's leftover: the scan form (Spark's listing)
      // never reads it, so the footer form must not count it either
      val part = new java.io.File(t).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      val stale = java.nio.file.Paths.get(t, "_temporary", "0", "task_0")
      java.nio.file.Files.createDirectories(stale)
      java.nio.file.Files.copy(part, stale.resolve(part.getFileName))
      val stats = TxLog.footerFileStats(t, Seq("k"))
      assert(stats.map(_._2).sum === spark.read.parquet(t).count())
      assert(stats.map(_._2).sum === 100L)
      assert(!stats.exists(_._1.contains("_temporary")))
    }
  }

  test("commit stats: the re-scan fallback logs what the footers would") {
    import spark.implicits._
    val flat = (1L to 100L).toDF("k").repartitionByRange(4, col("k"))
    val grid = (0L until 100L).map(k => (k, 99L - k)).toDF("k", "v")
    def commitBoth(t: String): Unit = {
      TxLog.commit(flat, t, "overwrite", "k")
      TxLog.commitClustered(grid, t, "append", Seq("k", "v"), col("k"), 4)
    }
    def stats(t: String): Seq[String] = TxLog.log(spark, t).collect()
      .map { r =>
        (r.getAs[Long]("version"),
          r.getAs[String]("path").replaceAll("part-.*", "part-*"),
          Seq("rows", "mn", "mx", "mn2", "mx2")
            .map(f => Option(r.get(r.fieldIndex(f))))).toString
      }.toSeq.sorted
    withTable { footer =>
      withTable { scanned =>
        commitBoth(footer)
        // footers without statistics force the re-scan
        val noStats = "parquet.column.statistics.enabled"
        spark.conf.set(noStats, "false")
        try commitBoth(scanned) finally spark.conf.unset(noStats)
        intercept[IllegalStateException] {
          TxLog.footerFileStats(s"$scanned/data-v0", Seq("k"))
        }
        assert(stats(scanned) === stats(footer))
        assert(stats(scanned).count(_.contains("data-v1/__zb=")) === 4)
        assert(TxLog.read(spark, scanned).count() === 200L)
      }
    }
  }

  test("prunedRead skips non-overlapping files and loses nothing") {
    import spark.implicits._
    withTable { t =>
      TxLog.commit((1L to 100L).toDF("k").repartitionByRange(4, col("k")),
        t, "overwrite", "k")
      val total = TxLog.log(spark, t).count()
      assert(total >= 3) // range partitioning actually split files
      val (pruned, _, _, _) = TxLog.prunedRead(spark, t, Seq(("k", 10L, 20L)))
      // losslessness vs the plain filter
      assert(pruned.select("k").as[Long].collect().toSet ===
        (10L to 20L).toSet)
      // and the scan really skipped files: fewer distinct input files
      // than the table holds
      val opened = pruned.select(input_file_name()).distinct().count()
      assert(opened < total)
      // empty range → empty frame with the table schema, no crash
      val (none, _, _, _) =
        TxLog.prunedRead(spark, t, Seq(("k", 1000L, 2000L)))
      assert(none.count() === 0L && none.columns.toSeq === Seq("k"))
    }
  }

  test("compact shrinks the live file count; history still time-travels") {
    import spark.implicits._
    withTable { t =>
      (0 until 6).foreach { i =>
        TxLog.commit(Seq(i.toLong * 2, i.toLong * 2 + 1).toDF("k"),
          t, if (i == 0) "overwrite" else "append", "k")
      }
      val filesBefore = TxLog.liveFiles(spark, t).count()
      val v = TxLog.compact(spark, t, "k", targetFiles = 2)
      assert(v === 6L)
      val filesAfter = TxLog.liveFiles(spark, t).count()
      assert(filesAfter <= 2 && filesAfter < filesBefore)
      // identical content through the rewrite
      assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet
        === (0L to 11L).toSet)
      // pre-compaction snapshots still resolve from immutable files
      assert(TxLog.read(spark, t, Some(2L)).select("k").as[Long]
        .collect().toSet === (0L to 5L).toSet)
    }
  }

  test("incrementalRead pulls exactly the unseen commits, rejects overwrites") {
    import spark.implicits._
    withTable { t =>
      TxLog.commit(Seq(1L).toDF("k"), t, "overwrite", "k")
      TxLog.commit(Seq(2L, 3L).toDF("k"), t, "append", "k")
      TxLog.commit(Seq(4L).toDF("k"), t, "append", "k")
      assert(TxLog.incrementalRead(spark, t, 0L, 2L)
        .select("k").as[Long].collect().toSet === Set(2L, 3L, 4L))
      assert(TxLog.incrementalRead(spark, t, 1L, 2L)
        .select("k").as[Long].collect().toSet === Set(4L))
      // empty range → empty with schema
      assert(TxLog.incrementalRead(spark, t, 2L, 2L).count() === 0L)
      // overwrite in range is not an added-rows-only delta
      TxLog.commit(Seq(9L).toDF("k"), t, "overwrite", "k")
      intercept[IllegalArgumentException] {
        TxLog.incrementalRead(spark, t, 2L, 3L)
      }
    }
  }

  test("3-axis commitClustered/prunedRead; 2-stat files stay readable") {
    import spark.implicits._
    // 4 buckets over k: v runs opposite, u = k mod 4 scrambles axis 3
    val df = (0L until 100L).map(k => (k, 99L - k, k % 4L))
      .toDF("k", "v", "u")
    withTable { t =>
      TxLog.commitClustered(df, t, "overwrite", Seq("k", "v", "u"),
        col("k"), 4)
      // axis-1 prune
      val (r1, kept1, pruned1, _) = TxLog.prunedRead(spark, t,
        Seq(("k", 0L, 24L), ("v", 0L, 99L), ("u", 0L, 3L)))
      assert((kept1, pruned1) === ((1, 3)) && r1.count() === 25L)
      // axis-3 prune alone: every k-bucket holds u∈{0..3}, so a u
      // range no bucket covers prunes everything
      val (_, kept2, pruned2, _) = TxLog.prunedRead(spark, t,
        Seq(("k", 0L, 99L), ("v", 0L, 99L), ("u", 7L, 9L)))
      assert((kept2, pruned2) === ((0, 4)))
      // re-cluster by u (compactClustered = the OPTIMIZE path): 4
      // buckets are exactly u=0..3; a one-value u range now keeps one
      // file, and the residual filter holds
      TxLog.compactClustered(spark, t, Seq("k", "v", "u"), col("u"), 4)
      val (r3, kept3, _, _) = TxLog.prunedRead(spark, t,
        Seq(("k", 0L, 99L), ("v", 0L, 99L), ("u", 2L, 2L)))
      assert(kept3 === 1)
      assert(r3.count() === 25L)
      assert(r3.select(min(col("u")), max(col("u"))).head()
        === org.apache.spark.sql.Row(2L, 2L))
      // a TWO-stat clustered append (no mn3) cannot be pruned on
      // axis 3 and must still be read
      TxLog.commitClustered(Seq((500L, 5L, 9L)).toDF("k", "v", "u"),
        t, "append", Seq("k", "v"), col("k"), 1)
      val (r4, kept4, _, _) = TxLog.prunedRead(spark, t,
        Seq(("k", 0L, 999L), ("v", 0L, 99L), ("u", 2L, 2L)))
      assert(kept4 === 2) // the u=2 file + the mn3-less append
      assert(r4.count() === 25L) // residual filter drops the u=9 row
    }
  }

  test("commitClustered with two stat columns; prunedRead skips on either axis") {
    import spark.implicits._
    // 4 buckets over k: files [0..24][25..49][50..74][75..99], with
    // v = 99 - k so the second axis ranges run opposite
    val df = (0L until 100L).map(k => (k, 99L - k)).toDF("k", "v")
    withTable { t =>
      TxLog.commitClustered(df, t, "overwrite", Seq("k", "v"), col("k"), 4)
      // axis-1 prune: k in [0, 24] keeps exactly 1 of 4 files
      val (r1, kept1, pruned1, scan1) = TxLog.prunedRead(spark, t,
        Seq(("k", 0L, 24L), ("v", 0L, 99L)))
      assert((kept1, pruned1) === ((1, 3)))
      assert(scan1 === 25L)
      assert(r1.count() === 25L)
      // axis-2 prune alone: v in [0, 24] ⇔ k in [75, 99] — also 1 file,
      // even though the axis-1 range is unbounded
      val (r2, kept2, pruned2, _) = TxLog.prunedRead(spark, t,
        Seq(("k", 0L, 99L), ("v", 0L, 24L)))
      assert((kept2, pruned2) === ((1, 3)))
      assert(r2.select(min(col("k"))).head().getLong(0) === 75L)
      // a single-stat append (no mn2) cannot be pruned on axis 2 and
      // must still be READ (residual row filter applies)
      TxLog.commit(Seq((200L, 5L)).toDF("k", "v"), t, "append", "k")
      val (r3, kept3, _, _) = TxLog.prunedRead(spark, t,
        Seq(("k", 0L, 999L), ("v", 0L, 24L)))
      assert(kept3 === 2) // the k∈[75..99] file + the stat-less append
      assert(r3.filter(col("k") === 200L).count() === 1L)
      // compactClustered on the second axis re-clusters; history intact
      TxLog.compactClustered(spark, t, Seq("k", "v"), col("v"), 4)
      val (r4, kept4, pruned4, _) = TxLog.prunedRead(spark, t,
        Seq(("k", 0L, 999L), ("v", 0L, 24L)))
      assert(kept4 === 1 && pruned4 === 3)
      assert(r4.count() === 26L)
      val (_, kept0, _, _) = TxLog.prunedRead(spark, t,
        Seq(("k", 0L, 24L), ("v", 0L, 99L)), asOf = Some(0L))
      assert(kept0 === 1)
    }
  }

  test("prunedRead sees through deletion vectors on a clustered table") {
    import spark.implicits._
    val df = (0L until 100L).map(k => (k, 99L - k)).toDF("k", "v")
    withTable { t =>
      // clustered files sit at data-v0/__zb=<b>/part-…: the masks key
      // on that whole path
      TxLog.commitClustered(df, t, "overwrite", Seq("k", "v"), col("k"), 4)
      TxLog.deleteWhere(spark, t, col("k") % 5 === 0L)
      val (got, kept, pruned, scanned) = TxLog.prunedRead(spark, t,
        Seq(("k", 0L, 24L), ("v", 0L, 99L)))
      assert((kept, pruned, scanned) === ((1, 3, 25L)))
      assert(got.select("k").as[Long].collect().toSet
        === (0L to 24L).filter(_ % 5 != 0).toSet)
    }
  }

  test("clustered commits take 1 to 3 stat columns; others leave no trace") {
    import spark.implicits._
    val df = Seq((1L, 2L, 3L, 4L)).toDF("a", "b", "c", "d")
    withTable { t =>
      def dataDirs(): Set[String] = Option(new java.io.File(t).list())
        .map(_.filter(_.startsWith("data-v")).toSet).getOrElse(Set.empty)
      Seq(Seq.empty[String], Seq("a", "b", "c", "d")).foreach { cols =>
        intercept[IllegalArgumentException] {
          TxLog.commitClustered(df, t, "overwrite", cols, col("a"), 1)
        }
      }
      assert(TxLog.versions(t).isEmpty && dataDirs().isEmpty)
      TxLog.commitClustered(df, t, "overwrite", Seq("a"), col("a"), 1)
      intercept[IllegalArgumentException] {
        TxLog.compactClustered(spark, t, Seq("a", "b", "c", "d"), col("a"), 1)
      }
      Seq(Seq.empty[(String, Long, Long)],
          Seq("a", "b", "c", "d").map(c => (c, 0L, 9L))).foreach { rs =>
        intercept[IllegalArgumentException] {
          TxLog.prunedRead(spark, t, rs)
        }
      }
      assert(TxLog.versions(t) === Seq(0L) && dataDirs() === Set("data-v0"))
      val (one, kept, _, _) = TxLog.prunedRead(spark, t, Seq(("a", 1L, 1L)))
      assert(kept === 1 && one.count() === 1L)
    }
  }

  test("checkpointLog + truncateLog: snapshot carries the log; table keeps working") {
    import spark.implicits._
    withTable { t =>
      TxLog.commit(Seq(1L, 2L).toDF("k"), t, "overwrite", "k") // v0
      TxLog.commit(Seq(3L).toDF("k"), t, "append", "k") // v1
      TxLog.deleteWhere(spark, t, col("k") === 2L) // v2
      assert(TxLog.checkpointLog(spark, t) === 2L)
      assert(TxLog.truncateLog(t) === 3L)
      // reads resolve from the snapshot alone
      assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet
        === Set(1L, 3L))
      assert(TxLog.read(spark, t, Some(1L)).select("k").as[Long]
        .collect().toSet === Set(1L, 2L, 3L))
      assert(TxLog.versions(t) === Seq(0L, 1L, 2L))
      // post-truncation commits number from the checkpoint marker
      assert(TxLog.commit(Seq(9L).toDF("k"), t, "append", "k") === 3L)
      assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet
        === Set(1L, 3L, 9L))
      // truncating again removes only the new tail's precursors (none)
      assert(TxLog.truncateLog(t) === 0L)
    }
  }

  test("commitWithExpectations splits valid/violating; empty side skipped") {
    import spark.implicits._
    withTable { t =>
      val q = s"$t-quarantine"
      // null constraint evaluations are violations (strict semantics)
      val df = Seq((1L, Some(5L)), (2L, Some(50L)), (3L, None))
        .toDF("k", "v")
      val (ver, qver) = TxLog.commitWithExpectations(df, t, q,
        "overwrite", "k", col("v") >= 10L)
      assert(ver === 0L && qver === 0L)
      assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet
        === Set(2L))
      assert(TxLog.read(spark, q).select("k").as[Long].collect().toSet
        === Set(1L, 3L))
      // a fully-valid batch quarantines nothing: no quarantine commit
      val (v2, q2) = TxLog.commitWithExpectations(
        Seq((9L, Some(99L))).toDF("k", "v"), t, q, "append", "k",
        col("v") >= 10L)
      assert(v2 === 1L && q2 === -1L)
      assert(TxLog.versions(q) === Seq(0L))
      // clean up the quarantine dir (outside withTable's tmp)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(q))
    }
  }

  test("commitIdempotent: replayed (appId, batchId) is a no-op") {
    import spark.implicits._
    withTable { t =>
      assert(TxLog.commitIdempotent(Seq(1L, 2L).toDF("k"), t,
        "overwrite", "k", "app", 7L) === Some(0L))
      // the retry: same transaction, different payload — still a no-op
      assert(TxLog.commitIdempotent(Seq(99L).toDF("k"), t,
        "append", "k", "app", 7L) === None)
      assert(TxLog.commitIdempotent(Seq(3L).toDF("k"), t,
        "append", "k", "app", 8L) === Some(1L))
      // a DIFFERENT app's batch 7 is its own transaction
      assert(TxLog.commitIdempotent(Seq(4L).toDF("k"), t,
        "append", "k", "other", 7L) === Some(2L))
      assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet
        === Set(1L, 2L, 3L, 4L))
      // dedup survives a log checkpoint + truncation (the txn column
      // travels into the snapshot)
      TxLog.checkpointLog(spark, t)
      TxLog.truncateLog(t)
      assert(TxLog.commitIdempotent(Seq(98L).toDF("k"), t,
        "append", "k", "app", 8L) === None)
    }
  }

  test("restore re-points the table at an old version; history intact") {
    import spark.implicits._
    withTable { t =>
      TxLog.commit(Seq(1L, 2L, 3L).toDF("k"), t, "overwrite", "k") // v0
      TxLog.deleteWhere(spark, t, col("k") === 2L) // v1: mistake
      assert(TxLog.restore(spark, t, toVersion = 0L, "k") === 2L)
      assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet
        === Set(1L, 2L, 3L))
      // the mistaken state stays auditable
      assert(TxLog.read(spark, t, Some(1L)).select("k").as[Long]
        .collect().toSet === Set(1L, 3L))
      // a restore is itself restorable
      assert(TxLog.restore(spark, t, toVersion = 1L, "k") === 3L)
      assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet
        === Set(1L, 3L))
    }
  }

  test("readMerged surfaces add-column evolution as nulls on old rows") {
    import spark.implicits._
    withTable { t =>
      TxLog.commit(Seq((1L, 10L)).toDF("k", "a"), t, "overwrite", "k")
      TxLog.commit(Seq((2L, 20L, "x")).toDF("k", "a", "b"), t,
        "append", "k")
      val m = TxLog.readMerged(spark, t)
      assert(m.columns.toSet === Set("k", "a", "b"))
      assert(m.filter(col("k") === 1L).select("b").head().isNullAt(0))
      // time travel before the evolution: old schema
      assert(TxLog.read(spark, t, Some(0L)).columns.toSet === Set("k", "a"))
      // deletion vectors mask across both generations
      TxLog.deleteWhere(spark, t, col("k") === 1L)
      assert(TxLog.readMerged(spark, t).select("k").as[Long]
        .collect().toSet === Set(2L))
    }
  }

  test("orphan vacuum honours the retention grace window") {
    import spark.implicits._
    withTable { t =>
      TxLog.commit(Seq(1L, 2L).toDF("k"), t, "overwrite", "k")
      // two unreferenced writer directories: one aged past the
      // window (a genuinely lost commit), one written just now (an
      // in-flight commitIf that has not yet published its log entry)
      Seq(7L).toDF("k").repartition(1).write.parquet(s"$t/data-lost")
      Seq(8L).toDF("k").repartition(1).write.parquet(s"$t/data-inflight")
      val aged = System.currentTimeMillis() - 8L * 24 * 3600 * 1000
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$t/data-lost"))
        .forEach(p => { p.toFile.setLastModified(aged); () })
      // default 7-day retention: removes ONLY the aged orphan
      assert(TxLog.vacuum(spark, t) === 1L)
      assert(java.nio.file.Files
        .walk(java.nio.file.Paths.get(s"$t/data-inflight"))
        .filter(p => p.toString.endsWith(".parquet")).count() === 1L)
      // zero retention (explicit, no-concurrent-writer contract):
      // the in-flight file becomes reclaimable
      assert(TxLog.vacuum(spark, t, java.time.Duration.ZERO) === 1L)
      // referenced files always survive
      assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet
        === Set(1L, 2L))
    }
  }

  test("vacuum removes only files below the overwrite watermark") {
    import spark.implicits._
    withTable { t =>
      TxLog.commit(Seq(1L).toDF("k"), t, "overwrite", "k")   // v0
      TxLog.commit(Seq(2L).toDF("k"), t, "append", "k")      // v1
      TxLog.commit(Seq(9L).toDF("k"), t, "overwrite", "k")   // v2
      TxLog.commit(Seq(10L).toDF("k"), t, "append", "k")     // v3
      // keepFrom=3: v3's live set starts at the v2 overwrite, so the
      // v1 append file must SURVIVE a naive version<3 deletion — only
      // v0/v1 files (below the v2 watermark) are deletable
      val removed = TxLog.vacuum(spark, t, keepFrom = 3L)
      assert(removed === 2L)
      // every retained version still reads
      assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet
        === Set(9L, 10L))
      assert(TxLog.read(spark, t, Some(2L)).select("k").as[Long]
        .collect().toSet === Set(9L))
      // history below the watermark is gone (files deleted), but the
      // log still lists the versions for audit
      assert(TxLog.versions(t) === Seq(0L, 1L, 2L, 3L))
      intercept[Exception] {
        TxLog.read(spark, t, Some(1L)).collect()
      }
      // keepFrom at a version whose watermark is its own overwrite:
      // nothing newer to delete, idempotent
      assert(TxLog.vacuum(spark, t, keepFrom = 3L) === 0L)
    }
  }

  test("merge applies keyed DML copy-on-write; pre-merge snapshot intact") {
    import spark.implicits._
    withTable { t =>
      TxLog.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
        t, "overwrite", "k")
      val changes = Seq((2L, "b2", "U"), (3L, "c", "D"), (4L, "d", "I"))
        .toDF("k", "v", "op")
      val v = TxLog.merge(spark, t, changes,
        Seq("k"), Seq("v"), "op", "k")
      assert(v === 1L)
      assert(TxLog.read(spark, t).as[(Long, String)].collect().toSet
        === Set((1L, "a"), (2L, "b2"), (4L, "d")))
      // time travel to the pre-merge state
      assert(TxLog.read(spark, t, Some(0L)).as[(Long, String)]
        .collect().toSet === Set((1L, "a"), (2L, "b"), (3L, "c")))
    }
  }

  test("deleteWhere masks rows without rewriting any data file") {
    import spark.implicits._
    withTable { t =>
      TxLog.commit((1L to 40L).toDF("k").repartitionByRange(3, col("k")),
        t, "overwrite", "k")
      def dataFiles(): Set[String] = TxLog.liveFiles(spark, t)
        .select("path").as[String].collect().toSet
      val before = dataFiles()
      val v = TxLog.deleteWhere(spark, t, col("k") % 4 === 0)  // v1
      assert(v === 1L)
      // merge-on-read: the live DATA file set is byte-for-byte the
      // same files — only vectors were added
      assert(dataFiles() === before)
      assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet
        === (1L to 40L).filter(_ % 4 != 0).toSet)
      // a second, overlapping delete composes by OR
      TxLog.deleteWhere(spark, t, col("k") % 6 === 0)          // v2
      assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet
        === (1L to 40L).filter(k => k % 4 != 0 && k % 6 != 0).toSet)
      // time travel applies only the vectors committed by then
      assert(TxLog.read(spark, t, Some(0L)).count() === 40L)
      assert(TxLog.read(spark, t, Some(1L)).select("k").as[Long]
        .collect().toSet === (1L to 40L).filter(_ % 4 != 0).toSet)
      // the log's delete rows carry exact deleted-position counts
      val delRows = TxLog.log(spark, t)
        .filter(col("mode") === "delete" && col("version") === 1L)
        .agg(sum(col("rows"))).as[Long].head()
      assert(delRows === (1L to 40L).count(_ % 4 == 0).toLong)
      // prunedRead sees through the mask too
      assert(TxLog.prunedRead(spark, t, Seq(("k", 10L, 20L)))._1
        .select("k").as[Long].collect().toSet
        === (10L to 20L).filter(k => k % 4 != 0 && k % 6 != 0).toSet)
      // delete versions are not an added-rows-only delta
      intercept[IllegalArgumentException] {
        TxLog.incrementalRead(spark, t, 0L, 2L)
      }
    }
  }

  test("compact purges deletion vectors; pre-compact snapshots keep them") {
    import spark.implicits._
    withTable { t =>
      TxLog.commit((1L to 30L).toDF("k"), t, "overwrite", "k")  // v0
      TxLog.deleteWhere(spark, t, col("k") > 25L)               // v1
      val v = TxLog.compact(spark, t, "k", targetFiles = 1)     // v2
      assert(v === 2L)
      // post-compact: no live delete entries remain, content identical
      assert(TxLog.liveDeleteVectors(spark, t).count() === 0L)
      assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet
        === (1L to 25L).toSet)
      // the masked snapshot still time-travels with its vector
      assert(TxLog.read(spark, t, Some(1L)).select("k").as[Long]
        .collect().toSet === (1L to 25L).toSet)
      assert(TxLog.read(spark, t, Some(0L)).count() === 30L)
      // deleting every remaining row then reading is an empty frame,
      // not an error (files stay live, fully masked)
      TxLog.deleteWhere(spark, t, lit(true))                    // v3
      assert(TxLog.read(spark, t).count() === 0L)
    }
  }

  test("commitIf: stale writer rejected, rebase lands, link is exclusive") {
    import spark.implicits._
    withTable { t =>
      // expect-empty semantics
      assert(TxLog.commitIf(Seq(1L).toDF("k"), t, "overwrite", "k",
        expectedVersion = -1L, writerId = "w0") === Right(0L))
      // two writers race from version 0: B lands, A is stale
      assert(TxLog.commitIf(Seq(2L).toDF("k"), t, "append", "k",
        0L, "wB") === Right(1L))
      val stale = TxLog.commitIf(Seq(3L).toDF("k"), t, "append", "k",
        0L, "wA")
      assert(stale === Left(1L))
      // rebase: retry against the observed winner
      assert(TxLog.commitIf(Seq(3L).toDF("k"), t, "append", "k",
        1L, "wA") === Right(2L))
      assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet
        === Set(1L, 2L, 3L))
      // the lost attempt's data files are orphans: invisible to the
      // log-driven reader (no directory listing ever happens)
      val logged = TxLog.log(spark, t).select("path").as[String]
        .collect().toSet
      assert(logged.forall(p => !p.contains("data-v1-wA")))
      // a foreign v3.json makes the table's latest move: the stale
      // writer is rejected and the existing entry is NOT clobbered
      // (exclusive link, not rename — byte-identical after the loss)
      val ld = new java.io.File(t, "_log")
      val foreign = new java.io.File(ld, "v3.json").toPath
      java.nio.file.Files.write(foreign,
        "\n".getBytes("UTF-8"))
      assert(TxLog.commitIf(Seq(4L).toDF("k"), t, "append", "k",
        2L, "wC") === Left(3L))
      assert(java.nio.file.Files.readAllBytes(foreign).toSeq
        === "\n".getBytes("UTF-8").toSeq)
    }
  }

  test("partition evolution: specs coexist, pruning counts are exact") {
    import spark.implicits._
    withTable { t =>
      // v0: day-partitioned, one file per day (repartition(1) per
      // day is forced by partitionBy writing one file per task ×
      // partition value — with 1 task, exactly one file per day)
      val v0 = Seq((1L, "d1", "a"), (2L, "d1", "b"), (3L, "d2", "a"))
        .toDF("k", "day", "typ").repartition(1)
      TxLog.commitPartitioned(v0, t, "append", "k", Seq("day"))
      // v1 EVOLVES to (day, typ)
      val v1 = Seq((4L, "d3", "a"), (5L, "d3", "b"), (6L, "d4", "a"))
        .toDF("k", "day", "typ").repartition(1)
      TxLog.commitPartitioned(v1, t, "append", "k", Seq("day", "typ"))
      // unfiltered read sees every row across both layouts
      val (all, readAll, prunedAll) =
        TxLog.readEvolved(spark, t, Map.empty)
      assert(all.select("k").as[Long].collect().toSet
        === Set(1L, 2L, 3L, 4L, 5L, 6L))
      assert(readAll === 5 && prunedAll === 0) // d1,d2 + 3 (day,typ) files
      // day filter prunes by metadata in BOTH specs
      val (d3, readD3, prunedD3) =
        TxLog.readEvolved(spark, t, Map("day" -> "d3"))
      assert(d3.select("k").as[Long].collect().toSet === Set(4L, 5L))
      assert(readD3 === 2 && prunedD3 === 3)
      // typ filter prunes only v1 files; v0 files are read and
      // row-filtered (typ is a DATA column there)
      val (typA, readA, prunedA) =
        TxLog.readEvolved(spark, t, Map("typ" -> "a"))
      assert(typA.select("k").as[Long].collect().toSet
        === Set(1L, 3L, 4L, 6L))
      assert(readA === 4 && prunedA === 1) // only d3/typ=b pruned
      // all-pruned filter: empty result, correct schema, no error
      val (none, _, _) = TxLog.readEvolved(spark, t, Map("day" -> "dX"))
      assert(none.count() === 0L)
      assert(none.columns.toSet === Set("k", "day", "typ"))
      // non-string partition column rejected up front
      intercept[IllegalArgumentException] {
        TxLog.commitPartitioned(Seq((1L, 2L)).toDF("k", "p"), t,
          "append", "k", Seq("p"))
      }
    }
  }

  test("partition evolution: stats and time travel still hold") {
    import spark.implicits._
    withTable { t =>
      val v0 = Seq((10L, "d1"), (20L, "d2")).toDF("k", "day")
        .repartition(1)
      TxLog.commitPartitioned(v0, t, "append", "k", Seq("day"))
      val lg = TxLog.log(spark, t).orderBy("path").collect()
      assert(lg.length === 2)
      assert(lg.map(_.getAs[String]("pcols")).toSet === Set("day"))
      assert(lg.map(_.getAs[String]("pvals")).toSet === Set("d1", "d2"))
      assert(lg.map(r => (r.getAs[Long]("mn"), r.getAs[Long]("mx"))).toSet
        === Set((10L, 10L), (20L, 20L)))
      val v1 = Seq((30L, "d1")).toDF("k", "day").repartition(1)
      TxLog.commitPartitioned(v1, t, "append", "k", Seq("day"))
      val (asOf0, _, _) = TxLog.readEvolved(spark, t, Map.empty, Some(0L))
      assert(asOf0.select("k").as[Long].collect().toSet === Set(10L, 20L))
    }
  }

  test("partitioned commit: numeric-looking values survive verbatim") {
    import spark.implicits._
    withTable { t =>
      // "00042" would be inferred as int 42 by the read-back without
      // the explicit schema — the log must record the RAW directory
      // string, and readEvolved must re-attach + prune on it
      val v0 = Seq((1L, "00042"), (2L, "2021-01-01")).toDF("k", "id")
        .repartition(1)
      TxLog.commitPartitioned(v0, t, "append", "k", Seq("id"))
      val pv = TxLog.log(spark, t).orderBy("path")
        .collect().map(_.getAs[String]("pvals")).toSet
      assert(pv === Set("00042", "2021-01-01"))
      val (df, read, pruned) =
        TxLog.readEvolved(spark, t, Map("id" -> "00042"))
      assert(df.select("k").as[Long].collect().toSeq === Seq(1L))
      assert(read === 1 && pruned === 1)
    }
  }

  test("partitioned commit: path-escaped values unescape in the log and read back") {
    import spark.implicits._
    withTable { t =>
      // ':' is path-escaped by Spark's partitioned writer (the dir is
      // day=d%3A1): the footer-derived stats (r16) must record the
      // UNESCAPED value in pvals, the ON-DISK name in path, and the
      // read must resolve — the pre-r16 read-back recorded a doubly
      // URL-encoded path for such values, which never resolved
      val v0 = Seq((1L, "d:1"), (2L, "d2")).toDF("k", "day")
        .repartition(1)
      TxLog.commitPartitioned(v0, t, "append", "k", Seq("day"))
      val lg = TxLog.log(spark, t).orderBy("path").collect()
      assert(lg.map(_.getAs[String]("pvals")).toSet === Set("d:1", "d2"))
      assert(lg.map(_.getAs[String]("path"))
        .exists(_.contains("day=d%3A1/")))
      val (df, read, pruned) =
        TxLog.readEvolved(spark, t, Map("day" -> "d:1"))
      assert(df.select("k").as[Long].collect().toSeq === Seq(1L))
      assert(read === 1 && pruned === 1)
    }
  }

  test("partitioned commit: reserved-delimiter values rejected pre-publish") {
    import spark.implicits._
    withTable { t =>
      Seq("a|b", "a,b", "", "a/b", "a\"b", "a\\b", "a\nb").foreach { bad =>
        intercept[IllegalArgumentException] {
          TxLog.commitPartitioned(Seq((1L, bad)).toDF("k", "p"), t,
            "append", "k", Seq("p"))
        }
      }
      // none of the failed commits became visible
      assert(TxLog.versions(t).isEmpty)
    }
  }

  test("shallowClone: relative srcDir is canonicalized before borrowing") {
    import spark.implicits._
    withTable { src =>
      withTable { dst =>
        TxLog.commit(Seq((1L, "a")).toDF("k", "v"), src, "append", "k")
        // hand the clone a RELATIVE path to the source table
        val rel = new java.io.File(".").getCanonicalFile.toPath
          .relativize(new java.io.File(src).getCanonicalFile.toPath)
          .toString
        TxLog.shallowClone(spark, rel, dst)
        val borrowed = TxLog.log(spark, dst)
          .collect().map(_.getAs[String]("path"))
        assert(borrowed.forall(_.startsWith("/")),
          s"clone borrowed non-absolute paths: ${borrowed.mkString(",")}")
        assert(TxLog.read(spark, dst).select("k").as[Long]
          .collect().toSeq === Seq(1L))
      }
    }
  }

  test("bloom manifest: prunes range-covered files; absent key reads nothing") {
    import spark.implicits._
    withTable { t =>
      // two single-file commits with INTERLEAVED key ranges: [1,5] and
      // [2,6] -- every probe below is range-covered by both files, so
      // any pruning observed is the bloom's work alone
      TxLog.commitWithBloom(Seq((1L, "a"), (5L, "b")).toDF("k", "v")
        .repartition(1), t, "append", "k", 630, 3)
      TxLog.commitWithBloom(Seq((2L, "c"), (6L, "d")).toDF("k", "v")
        .repartition(1), t, "append", "k", 630, 3)
      // key 5 lives only in file 0; file 1's range [2,6] covers it but
      // its bloom excludes it -> exactly one file read
      val (hit, read5, pruned5) =
        TxLog.pointLookupBloom(spark, t, "k", 5L, 630, 3)
      assert(hit.select("v").as[String].collect().toSeq === Seq("b"))
      assert(read5 === 1 && pruned5 === 1)
      // key 3 is range-covered by BOTH files but present in neither:
      // bloom prunes both, schema-preserving empty result
      val (none, read3, pruned3) =
        TxLog.pointLookupBloom(spark, t, "k", 3L, 630, 3)
      assert(none.count() === 0L)
      assert(read3 === 0 && pruned3 === 2)
      // a bloom-less commit falls back to range-only pruning: its
      // range covers 5, so it must be read (bloom absent = may contain)
      TxLog.commit(Seq((4L, "e"), (9L, "f")).toDF("k", "v")
        .repartition(1), t, "append", "k")
      val (hit2, read5b, _) =
        TxLog.pointLookupBloom(spark, t, "k", 5L, 630, 3)
      assert(hit2.select("v").as[String].collect().toSeq === Seq("b"))
      assert(read5b === 2) // file 0 (bloom hit) + bloom-less file
      // out-of-range key: range stats prune everything incl. bloom-less
      val (_, read99, pruned99) =
        TxLog.pointLookupBloom(spark, t, "k", 99L, 630, 3)
      assert(read99 === 0 && pruned99 === 3)
    }
  }

  test("pointLookupBloom does not return deleted rows") {
    import spark.implicits._
    withTable { t =>
      TxLog.commitWithBloom((1L to 40L).toDF("k"), t, "overwrite", "k",
        630, 3)
      TxLog.deleteWhere(spark, t, col("k") === 7L)
      assert(TxLog.read(spark, t).filter(col("k") === 7L).count() === 0L)
      val (gone, _, _) = TxLog.pointLookupBloom(spark, t, "k", 7L, 630, 3)
      assert(gone.count() === 0L)
      val (kept, _, _) = TxLog.pointLookupBloom(spark, t, "k", 8L, 630, 3)
      assert(kept.select("k").as[Long].collect().toSeq === Seq(8L))
    }
  }

  test("readEvolved does not return deleted rows") {
    import spark.implicits._
    withTable { t =>
      TxLog.commitPartitioned((1L to 40L).map(k => (k, (k % 2).toString))
        .toDF("k", "c"), t, "overwrite", "k", Seq("c"))
      TxLog.deleteWhere(spark, t, col("k") === 8L)
      val (evens, _, _) = TxLog.readEvolved(spark, t, Map("c" -> "0"))
      assert(evens.select("k").as[Long].collect().toSet
        === (2L to 40L by 2L).filter(_ != 8L).toSet)
      // the all-pruned result keeps the evolved schema
      val (none, read, _) = TxLog.readEvolved(spark, t, Map("c" -> "9"))
      assert(read === 0 && none.count() === 0L)
      assert(none.columns.toSet === Set("k", "c"))
    }
  }

  test("deletion vectors key each file uniquely under two partition columns") {
    import spark.implicits._
    withTable { t =>
      // one task writes day=d3/typ=a/part-0-U… and day=d4/typ=a/part-0-U…:
      // the same file name under the same last directory
      TxLog.commitPartitioned(Seq((4L, "d3", "a"), (5L, "d3", "b"),
          (6L, "d4", "a")).toDF("k", "day", "typ").coalesce(1),
        t, "overwrite", "k", Seq("day", "typ"))
      TxLog.deleteWhere(spark, t, col("k") === 4L)
      assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet
        === Set(5L, 6L))
      val (all, _, _) = TxLog.readEvolved(spark, t, Map.empty)
      assert(all.select("k").as[Long].collect().toSet === Set(5L, 6L))
    }
  }

  test("shallowClone of a 2-axis clustered table prunes on both axes") {
    import spark.implicits._
    val df = (0L until 100L).map(k => (k, 99L - k)).toDF("k", "v")
    withTable { src =>
      withTable { dst =>
        TxLog.commitClustered(df, src, "overwrite", Seq("k", "v"), col("k"), 4)
        TxLog.shallowClone(spark, src, dst)
        val ranges = Seq(("k", 0L, 99L), ("v", 0L, 24L))
        val (_, keptSrc, prunedSrc, _) = TxLog.prunedRead(spark, src, ranges)
        val (got, kept, pruned, _) = TxLog.prunedRead(spark, dst, ranges)
        assert((keptSrc, prunedSrc) === ((1, 3)))
        assert((kept, pruned) === ((keptSrc, prunedSrc)))
        assert(got.select("k").as[Long].collect().toSet === (75L to 99L).toSet)
      }
    }
  }

  test("shallowClone: zero-copy fork, fully independent, DVs travel") {
    import spark.implicits._
    withTable { src =>
      withTable { dst =>
        TxLog.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
          src, "overwrite", "k")
        // merge-on-read delete BEFORE the clone: the mask must travel
        TxLog.deleteWhere(spark, src, col("k") === 2L)
        TxLog.shallowClone(spark, src, dst)
        // no data bytes copied: the clone dir holds only its log
        assert(!new java.io.File(dst).list().exists(_.startsWith("data-")))
        assert(TxLog.read(spark, dst).select("k").as[Long].collect().toSet
          === Set(1L, 3L))
        // divergence is two-way invisible
        TxLog.commit(Seq((9L, "z")).toDF("k", "v"), src, "append", "k")
        TxLog.commit(Seq((7L, "y")).toDF("k", "v"), dst, "append", "k")
        assert(TxLog.read(spark, src).select("k").as[Long].collect().toSet
          === Set(1L, 3L, 9L))
        assert(TxLog.read(spark, dst).select("k").as[Long].collect().toSet
          === Set(1L, 3L, 7L))
        // clone target must be empty
        intercept[IllegalArgumentException] {
          TxLog.shallowClone(spark, src, dst)
        }
      }
    }
  }

  test("commitIf under concurrent writers: one winner per version, no lost updates") {
    import spark.implicits._
    withTable { t =>
      TxLog.commit(Seq((0L, "seed")).toDF("k", "w"), t, "overwrite", "k")
      val nWriters = 6
      // every writer appends ONE key-disjoint row, racing the others;
      // a loser rebases (key-disjoint append ⇒ plain retry against
      // the winner's version) — the commitIf scaladoc protocol,
      // exercised with real thread interleaving rather than the
      // pairwise staged race of the OCC gate
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nWriters)
      val wins = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val rejections = new java.util.concurrent.atomic.AtomicLong(0)
      try {
        val latch = new java.util.concurrent.CountDownLatch(1)
        val futures = (1 to nWriters).map { w =>
          pool.submit(new Runnable {
            def run(): Unit = {
              latch.await()
              val df = Seq((w.toLong, s"w$w")).toDF("k", "w")
              var done = false
              var attempts = 0
              while (!done && attempts < 100) {
                val expected = TxLog.versions(t).lastOption.getOrElse(-1L)
                TxLog.commitIf(df, t, "append", "k", expected,
                  s"w$w-a$attempts") match {
                  case Right(v) => wins.put(w, v); done = true
                  case Left(_) => rejections.incrementAndGet(); attempts += 1
                }
              }
              assert(done, s"writer $w starved after 100 attempts")
            }
          })
        }
        latch.countDown()
        futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdownNow()
      // every writer won exactly once, on a DISTINCT version, and the
      // version sequence is contiguous (no gaps = no phantom commits)
      import scala.jdk.CollectionConverters._
      val wonVersions = wins.values().asScala.toSeq
      assert(wins.size === nWriters)
      assert(wonVersions.distinct.size === nWriters)
      assert(TxLog.versions(t) === (0L to nWriters.toLong))
      // no lost updates: the final live set carries seed + all rows
      val got = TxLog.read(spark, t).select("k").as[Long].collect().toSet
      assert(got === (0 to nWriters).map(_.toLong).toSet)
      // rejections.get() counts observed conflicts — informational
      // only (≥1 in practice with 6 latch-released writers, but a
      // perfectly serialized scheduling is legal, so not asserted:
      // the bar is deterministic green)
    }
  }

  test("log format: each writer's _log lines, byte for byte") {
    import spark.implicits._
    withTable { root =>
      val t = s"$root/all"
      val dst = s"$root/clone"
      // the one run-dependent part of a line: the write job's UUID in
      // each part-file name, and the clone's absolute source prefix
      def text(table: String, v: Long): String =
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(table, "_log", s"v$v.json")), "UTF-8")
          .replace(new java.io.File(t).getCanonicalPath, "SRC")
          .replaceAll(
            "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}",
            "UUID")
      val one = (ks: Seq[Long]) => ks.toDF("k").repartition(1)
      TxLog.commit(one(Seq(1L, 5L)), t, "overwrite", "k")
      TxLog.commitIdempotent(one(Seq(7L)), t, "append", "k", "app", 3L)
      TxLog.deleteWhere(spark, t, col("k") === 5L)
      TxLog.commitClustered((0L until 4L).map(k => (k, 3L - k)).toDF("k", "v"),
        t, "append", Seq("k", "v"), col("k"), 2)
      TxLog.commitPartitioned(Seq((8L, "x"), (9L, "y")).toDF("k", "p")
        .repartition(1), t, "append", "k", Seq("p"))
      TxLog.commitWithBloom(one(Seq(10L, 11L)), t, "append", "k", 63, 2)
      TxLog.commitWithBloom(one(Seq(12L)), t, "append", "k", 63, 0)
      TxLog.shallowClone(spark, t, dst)
      val got = (0L to 6L).map(text(t, _)) :+ text(dst, 0L)
      // part-file names: flat writes, then partitionBy writes
      val f = "part-00000-UUID-c000.snappy.parquet"
      val d = "part-00000-UUID.c000.snappy.parquet"
      val bloom = "0:422000000000004"
      val expected = Seq(
        Seq(s"""{"version":0,"mode":"overwrite","path":"data-v0/$f","rows":2,"mn":1,"mx":5}"""),
        Seq(s"""{"version":1,"mode":"append","path":"data-v1/$f","rows":1,"mn":7,"mx":7,"txn":"app:3"}"""),
        Seq(s"""{"version":2,"mode":"delete","path":"dv-v2/$f","rows":1,"mn":0,"mx":0}"""),
        Seq(s"""{"version":3,"mode":"append","path":"data-v3/__zb=0/$d","rows":2,"mn":0,"mx":1,"mn2":2,"mx2":3}""",
          s"""{"version":3,"mode":"append","path":"data-v3/__zb=1/$d","rows":2,"mn":2,"mx":3,"mn2":0,"mx2":1}"""),
        Seq(s"""{"version":4,"mode":"append","path":"data-v4/p=x/$d","rows":1,"mn":8,"mx":8,"pcols":"p","pvals":"x"}""",
          s"""{"version":4,"mode":"append","path":"data-v4/p=y/$d","rows":1,"mn":9,"mx":9,"pcols":"p","pvals":"y"}"""),
        Seq(s"""{"version":5,"mode":"append","path":"data-v5/$f","rows":2,"mn":10,"mx":11,"bloom":"$bloom"}"""),
        // an empty filter (no hash functions) is an empty string, not null
        Seq(s"""{"version":6,"mode":"append","path":"data-v6/$f","rows":1,"mn":12,"mx":12,"bloom":""}"""),
        // the clone: every live entry at version 0, data files as
        // overwrite, absolute paths, no txn, sorted
        Seq(s"""{"version":0,"mode":"delete","path":"SRC/dv-v2/$f","rows":1,"mn":0,"mx":0}""",
          s"""{"version":0,"mode":"overwrite","path":"SRC/data-v0/$f","rows":2,"mn":1,"mx":5}""",
          s"""{"version":0,"mode":"overwrite","path":"SRC/data-v1/$f","rows":1,"mn":7,"mx":7}""",
          s"""{"version":0,"mode":"overwrite","path":"SRC/data-v3/__zb=0/$d","rows":2,"mn":0,"mx":1,"mn2":2,"mx2":3}""",
          s"""{"version":0,"mode":"overwrite","path":"SRC/data-v3/__zb=1/$d","rows":2,"mn":2,"mx":3,"mn2":0,"mx2":1}""",
          s"""{"version":0,"mode":"overwrite","path":"SRC/data-v4/p=x/$d","rows":1,"mn":8,"mx":8,"pcols":"p","pvals":"x"}""",
          s"""{"version":0,"mode":"overwrite","path":"SRC/data-v4/p=y/$d","rows":1,"mn":9,"mx":9,"pcols":"p","pvals":"y"}""",
          s"""{"version":0,"mode":"overwrite","path":"SRC/data-v5/$f","rows":2,"mn":10,"mx":11,"bloom":"$bloom"}""",
          s"""{"version":0,"mode":"overwrite","path":"SRC/data-v6/$f","rows":1,"mn":12,"mx":12,"bloom":""}""")
      ).map(_.mkString("", "\n", "\n"))
      assert(got.size === expected.size)
      got.zip(expected).foreach { case (g, e) => assert(g === e) }
    }
  }

  test("shallowClone: a source path holding a quote reads back") {
    import spark.implicits._
    withTable { root =>
      val src = s"$root/a\"b/tbl"
      TxLog.commit(Seq(1L, 2L, 3L).toDF("k"), src, "overwrite", "k")
      TxLog.shallowClone(spark, src, s"$root/dst")
      assert(TxLog.read(spark, s"$root/dst").select("k").as[Long]
        .collect().sorted.toSeq === Seq(1L, 2L, 3L))
    }
  }

  test("a malformed log line fails the read that meets it") {
    import spark.implicits._
    withTable { t =>
      TxLog.commit(Seq(1L).toDF("k"), t, "overwrite", "k")
      java.nio.file.Files.write(java.nio.file.Paths.get(t, "_log", "v1.json"),
        "garbage\n".getBytes("UTF-8"))
      val e = intercept[org.apache.spark.SparkException] {
        TxLog.read(spark, t)
      }
      // the failure names the file, and its cause the malformed record
      assert(e.getMessage.contains("_log/v1.json"), e.getMessage)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("Malformed records")))
    }
  }
}
