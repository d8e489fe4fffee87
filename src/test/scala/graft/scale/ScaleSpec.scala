package graft.scale

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Plan-level proofs of the scale mechanics: salting preserves results
  * while spreading keys, bucketed joins run without a shuffle exchange,
  * dynamic partition overwrite touches only the delta's partitions. */
class ScaleSpec extends SparkSpec {

  /** What the jobs `body` triggers cost: how many there were, and the max
    * per-task shuffle-read RECORDS across them — the probe every
    * task-metrics and job-count test in this suite shares.
    *
    * Scoped by job group (ADVICE r12): JobStart carries the group
    * property plus the job's stage ids, and TaskEnd is filtered by stage
    * membership, so a concurrent job on the shared session can never
    * pollute the measurement. Completion detection is a SENTINEL job on
    * the same ordered listener bus instead of a sleep-until-quiet loop:
    * `body`'s actions are synchronous, so its jobs have all ended by the
    * time the sentinel is submitted, and events are delivered in post
    * order — when the sentinel's stage completes, every earlier probe
    * event (JobStart, TaskEnd) has already been delivered. */
  private final class Probed(val jobs: Int, val maxTaskShuffleRead: Long)
  private var skewProbeSeq = 0
  private def probeJobs(body: => Unit): Probed = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageCompleted, SparkListenerTaskEnd}
    skewProbeSeq += 1
    val group = s"skew-probe-$skewProbeSeq"
    val sentinel = s"skew-probe-flush-$skewProbeSeq"
    class GroupProbe extends SparkListener {
      private val stages =
        java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val byStage = scala.collection.concurrent.TrieMap[Int, Long]()
      val names = scala.collection.concurrent.TrieMap[Int, String]()
      @volatile var maxRecords = 0L
      @volatile var jobs = 0
      @volatile var flushed = false
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val g = if (js.properties == null) null
                else js.properties.getProperty("spark.jobGroup.id")
        if (g == group) { jobs += 1; js.stageIds.foreach(stages.add(_)) }
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null && stages.contains(te.stageId)) {
          val r = m.shuffleReadMetrics.recordsRead
          if (r > maxRecords) maxRecords = r
          if (r > byStage.getOrElse(te.stageId, -1L)) byStage(te.stageId) = r
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        if (stages.contains(sc.stageInfo.stageId))
          names(sc.stageInfo.stageId) = sc.stageInfo.name.take(80)
        if (sc.stageInfo.name.contains(sentinel)) flushed = true
      }
    }
    val l = new GroupProbe
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, "skew probe")
      body
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.setCallSite(sentinel)
      try spark.sparkContext.parallelize(1 to 1, 1).count()
      finally spark.sparkContext.clearCallSite()
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!l.flushed && System.nanoTime() < deadline) Thread.sleep(10)
      assert(l.flushed, "listener bus did not deliver the sentinel in 30s")
      assert(l.jobs > 0, "no job carried the probe's job group")
      info(s"${l.jobs} jobs; per-stage max reads: " + l.byStage.toSeq
        .sortBy(-_._2).take(6)
        .map { case (s, r) => s"$s:$r:${l.names.getOrElse(s, "?")}" })
      new Probed(l.jobs, l.maxRecords)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  private def maxTaskShuffleRead(body: => Unit): Long =
    probeJobs(body).maxTaskShuffleRead

  test("Fixpoint loops schedule no more jobs than the hand-written loops " +
      "they replaced") {
    // Jobs per call plus collect() on FixpointLoops' fixtures, measured
    // with this probe: (the persist/count and accumulator-tapped
    // checkpoint loops the combinator replaced, the Fixpoint loops). The
    // Fixpoint count is the bound: every fixture materializes at least
    // two rounds, so one extra action per round exceeds it.
    val jobs = Map("clustersOf" -> ((25, 21)), "labelPropagationOf" -> ((29, 21)),
      "bfsDistancesOf" -> ((24, 14)), "kCoreOf" -> ((16, 10)),
      "bpeMergesOf" -> ((21, 9)))
    for ((loop, call) <- FixpointLoops.all) {
      val (replaced, bound) = jobs(loop)
      assert(bound <= replaced, s"$loop's bound exceeds the replaced loop's jobs")
      val n = probeJobs { call(spark).collect() }.jobs
      assert(n <= bound, s"$loop schedules $n jobs, bound $bound " +
        s"(replaced loop: $replaced)")
    }
    spark.catalog.clearCache()
  }

  test("salted counts equal plain counts on a skewed key") {
    import spark.implicits._
    // skewed: 90% of rows on one key
    val df = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i.toLong))
      .toDF("key", "payload")
    val plain = df.groupBy("key").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Scale.saltedCounts(df, "key", "payload", salts = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("salted join equals plain join on a skewed key") {
    import spark.implicits._
    val big = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i.toLong))
      .toDF("key", "payload")
    val small = Seq((1L, "hot"), (950L, "cold")).toDF("key", "label")
    val plain = big.join(small, "key").select("key", "payload", "label")
      .collect().map(_.toSeq).toSet
    val salted = Scale.saltedJoin(big, small, "key", "payload", salts = 8)
      .select("key", "payload", "label")
      .collect().map(_.toSeq).toSet
    assert(salted == plain && plain.nonEmpty)
  }

  test("bucketed snapshot join plans without a shuffle exchange") {
    // disable broadcast locally to force the SMJ path bucketing removes;
    // scoped restore — the conf must not leak into other suites
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val crm = graft.sync.Reconcile.crmSnapshot(spark, sf)
      val db = graft.sync.Reconcile.dbSnapshot(spark, sf)
      Scale.writeBucketed(crm, "crm_bucketed", "case_ref", buckets = 8)
      Scale.writeBucketed(db, "db_bucketed", "case_ref", buckets = 8)
      val joined = spark.table("crm_bucketed")
        .join(spark.table("db_bucketed"), "case_ref")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      // and it still computes the right thing
      val expected = crm.join(db, "case_ref").count()
      assert(joined.count() == expected)
    }
  }

  test("dynamic partition overwrite replaces only touched tenants") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-po").toString + "/watermarks"
    val base = Seq((0L, 100L, 1L), (1L, 200L, 2L), (2L, 300L, 3L))
      .toDF("tenant_id", "case_ref", "last_serialno")
    Scale.overwriteTouchedPartitions(base, out)
    // delta touches tenant 1 only
    val delta = Seq((1L, 200L, 99L)).toDF("tenant_id", "case_ref", "last_serialno")
    Scale.overwriteTouchedPartitions(delta, out)
    // partition-column values come back type-inferred from dir names (int)
    val back = spark.read.parquet(out)
      .collect().map(r => (r.getAs[Number]("tenant_id").longValue(),
        r.getAs[Long]("last_serialno"))).toSet
    assert(back == Set((0L, 1L), (1L, 99L), (2L, 3L)))
  }

  test("compaction: target file count, contiguous ranges, sorted within files") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-compact").toString + "/t"
    // 40 tiny "micro-batch" appends -> 40+ files
    val df = (1 to 2000).map(i => ((i * 7919) % 2000L, i.toLong)).toDF("key", "v")
    df.repartition(40).write.parquet(out)
    val before = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before >= 40)
    val compacted = out + "_compacted"
    Scale.compact(spark.read.parquet(out), compacted, targetFiles = 4, sortCols = Seq("key"))
    val after = new java.io.File(compacted).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(after.length <= 5, s"expected ~4 files, got ${after.length}")
    // contiguous, non-overlapping key ranges across files (range clustering)
    val ranges = after.map { f =>
      val keys = spark.read.parquet(f.getAbsolutePath).select("key")
        .collect().map(_.getLong(0))
      // sorted within the file
      assert(keys.sameElements(keys.sorted), s"file ${f.getName} not sorted")
      (keys.min, keys.max)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlapping ranges: $hi > $lo2")
      case _ =>
    }
    // nothing lost
    assert(spark.read.parquet(compacted).count() == 2000)

    // IN-PLACE compaction (the real use: squash the append-only dir the
    // sync pipeline grows) — reading and replacing the same path
    Scale.compact(spark.read.parquet(out), out, targetFiles = 2, sortCols = Seq("key"))
    val inPlace = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
    assert(inPlace <= 3, s"in-place compaction left $inPlace files")
    assert(spark.read.parquet(out).count() == 2000)
  }

  test("z-order clustering bounds BOTH dimensions per file; linear sort doesn't") {
    import spark.implicits._
    // deterministic scatter over a 1024x1024 grid
    val pts = (0 until 4096).map { i =>
      ((i.toLong * 48271) % 1024, (i.toLong * 16807) % 1024)
    }.toDF("x", "y")
    def fileRanges(path: String): Array[(Long, Long)] =
      new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(max(col("x")) - min(col("x")), max(col("y")) - min(col("y"))).head()
        (r.getLong(0), r.getLong(1))
      }
    val zdir = Files.createTempDirectory("graft-z").toString + "/t"
    Scale.zOrderWrite(pts, zdir, "x", "y", targetFiles = 16)
    val zRanges = fileRanges(zdir)
    assert(zRanges.length >= 8)
    // MEAN compactness per dim (not per-file: a file straddling the
    // top-level z midpoint can legally span most of one dimension when
    // the sampled range boundaries drift off tile edges)
    val zX = zRanges.map(_._1)
    assert(zX.sum / zX.length < 500, s"z-order mean x-range: ${zX.sum / zX.length}")
    // linear sort on x: x is clustered but y stays essentially unbounded
    val ldir = Files.createTempDirectory("graft-lin").toString + "/t"
    pts.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.parquet(ldir)
    // the meaningful metric is the NON-LEADING dimension: a linear sort
    // produces thin slivers (tiny x-range, but y spans the whole grid —
    // zero pruning for y predicates); z-order bounds y too
    val linY = fileRanges(ldir).map(_._2)
    val zY = zRanges.map(_._2)
    assert(linY.sum / linY.length > 800,
      s"linear-sort mean y-range unexpectedly small: ${linY.sum / linY.length}")
    assert(zY.sum / zY.length < 500,
      s"z-order mean y-range too wide: ${zY.sum / zY.length}")
  }

  test("spread's partition probe schedules zero jobs on a scan frame") {
    val sc = spark.sparkContext
    // positive control first: prove the job-group detection machinery
    // actually sees jobs — df.rdd on a post-aggregate frame (what the
    // guard forbids) finalizes and EXECUTES the upstream stage
    sc.setJobGroup("graft-probe-positive", "probe positive control")
    spark.read.parquet(s"$sf/orders.parquet")
      .groupBy("o_orderstatus").count().rdd.getNumPartitions
    sc.clearJobGroup()
    def jobsIn(group: String, waitForSome: Boolean): Int = {
      val deadline = System.nanoTime() + 5_000_000_000L
      var n = sc.statusTracker.getJobIdsForGroup(group).length
      while ((if (waitForSome) n == 0 else true) && System.nanoTime() < deadline) {
        Thread.sleep(100)
        n = sc.statusTracker.getJobIdsForGroup(group).length
        if (!waitForSome && n > 0) return n // early out: a job appeared
      }
      n
    }
    assert(jobsIn("graft-probe-positive", waitForSome = true) > 0,
      "control failed: the status tracker never saw the aggregate probe's job")
    // the real assertion: spread on a scan(+project/filter) frame probes
    // partition count without scheduling ANY job. Build the frame OUTSIDE
    // the group — parquet schema inference may run its own job, and that
    // read-time cost isn't what this test measures.
    val scan = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderstatus") === "O").select("o_orderkey")
    sc.setJobGroup("graft-probe-scan", "spread probe under test")
    Scale.spread(scan)
    sc.clearJobGroup()
    assert(jobsIn("graft-probe-scan", waitForSome = false) == 0,
      "spread's partition probe must not schedule jobs on a scan frame")
  }

  test("spread rejects frames with shuffle-introducing nodes (contract guard)") {
    import spark.implicits._
    val base = (1 to 100).map(i => (i.toLong, i % 7)).toDF("id", "k")
    val offending = Seq(
      base.groupBy("k").count(),                  // Aggregate
      base.join(base.withColumnRenamed("id", "id2"), "k"), // Join
      base.orderBy("id"),                         // Sort (range sampling)
      base.dropDuplicates("k"),                   // Deduplicate
      base.limit(10),                             // GlobalLimit
      base.repartition(8))                        // Repartition
    offending.foreach { df =>
      val e = intercept[IllegalArgumentException](Scale.spread(df))
      assert(e.getMessage.contains("contract violation"), e.getMessage)
    }
    // and plain scan/project/filter shapes still pass
    Scale.spread(base.filter($"k" > 2).select("id"))
  }

  test("salted join caps the hot task at ~1/salts of the unsalted hot task (task metrics)") {
    import spark.implicits._
    // 40k rows on ONE key + 4k distinct tail: the unsalted SMJ funnels the
    // hot key through a single reducer task
    val big = (1 to 44000).map(i =>
      (if (i <= 40000) 1L else i.toLong, i.toLong)).toDF("key", "payload")
    val small = Seq((1L, "hot"), (42000L, "cold")).toDF("key", "label")
    // AQE off: its own skew-join splitting would mask what salting does;
    // broadcast off: the comparison needs the shuffled-join path; enough
    // reduce partitions that distinct (key, salt) groups don't collide
    // into one task and re-concentrate the skew this test measures
    withConf("spark.sql.adaptive.enabled", "false") {
      withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
       withConf("spark.sql.shuffle.partitions", "64") {
        val salts = 8
        val unsaltedMax = maxTaskShuffleRead {
          big.join(small, Seq("key")).select("key", "payload", "label")
            .write.format("noop").mode("overwrite").save()
        }
        val saltedMax = maxTaskShuffleRead {
          Scale.saltedJoin(big, small, "key", "payload", salts)
            .select("key", "payload", "label")
            .write.format("noop").mode("overwrite").save()
        }
        // the hot key's 40k rows land in one unsalted task...
        assert(unsaltedMax >= 40000L,
          s"unsalted hot task read only $unsaltedMax records — skew not reproduced")
        // ...and salting divides that task ~salts ways (assert half the
        // ideal split to absorb hash unevenness and the replicated small side)
        assert(saltedMax <= unsaltedMax / (salts / 2),
          s"salted max task read $saltedMax vs unsalted $unsaltedMax — " +
            s"expected ~${salts}x reduction")
       }
      }
    }
  }

  test("segmented as-of join splits a planted hot key's window ~buckets ways (task metrics)") {
    import spark.implicits._
    // ONE hot user with 40k events 90s apart (~42 days) + a 4k-user tail:
    // the plain as-of window funnels the hot user through a single task
    val rows = (1 to 40000).map(i => (1L, i * 90L, i.toLong)) ++
      (1 to 4000).map(i => ((i + 1).toLong, i * 90L, (40000 + i).toLong))
    val events = rows.toDF("user_id", "secs", "event_id")
      .select($"user_id", timestamp_seconds($"secs").as("ts"), $"event_id")
    val probe = events.filter($"event_id" % 2 === 1)
    val build = events.filter($"event_id" % 2 === 0)
    withConf("spark.sql.adaptive.enabled", "false") {
     withConf("spark.sql.shuffle.partitions", "64") {
      val plainMax = maxTaskShuffleRead {
        graft.operators.Temporal.asofJoinOf(probe, build,
            "user_id", "ts", "event_id")
          .write.format("noop").mode("overwrite").save()
      }
      val saltedMax = maxTaskShuffleRead {
        graft.operators.Temporal.asofJoinSaltedOf(probe, build,
            "user_id", "ts", "event_id", bucketSpanSeconds = 86400L)
          .write.format("noop").mode("overwrite").save()
      }
      // the hot user's full 40k-row union hits one plain window task...
      assert(plainMax >= 40000L,
        s"plain hot task read only $plainMax records — skew not reproduced")
      // ...and daily segmentation spreads it over ~42 buckets; assert a
      // conservative 8x drop to absorb reducer collisions on (key, bucket)
      assert(saltedMax <= plainMax / 8,
        s"segmented max task read $saltedMax vs plain $plainMax — " +
          "expected ~buckets-fold reduction")
      // and the two plans agree row-for-row on this corpus
      val a = graft.operators.Temporal.asofJoinOf(probe, build,
        "user_id", "ts", "event_id")
      val b = graft.operators.Temporal.asofJoinSaltedOf(probe, build,
        "user_id", "ts", "event_id", 86400L)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

      // same story for sessionization: the hot user's window funnels
      // through one task plain, spreads over daily buckets segmented
      val plainSess = maxTaskShuffleRead {
        graft.operators.Temporal.sessionizeOf(events, gapSeconds = 1800L)
          .write.format("noop").mode("overwrite").save()
      }
      val segSess = maxTaskShuffleRead {
        graft.operators.Temporal.sessionizeSaltedOf(events,
            gapSeconds = 1800L, bucketSpanSeconds = 86400L)
          .write.format("noop").mode("overwrite").save()
      }
      assert(plainSess >= 40000L,
        s"plain sessionize hot task read only $plainSess — skew not reproduced")
      assert(segSess <= plainSess / 8,
        s"segmented sessionize max task read $segSess vs plain $plainSess")
     }
    }
  }

  test("doc rarity's hot/cold DF split caps the stopword task (task metrics)") {
    import spark.implicits._
    // every doc contains "the" (DF = n_docs) plus one unique token: the
    // naive DF join funnels all of "the"'s pair rows through one reducer.
    // Large enough that corpus-proportional skew dominates the split's
    // one CONSTANT-bounded task: the hot-token TakeOrdered merge reads
    // exactly shufflePartitions x HotVocab = 64*64 = 4096 records
    // regardless of corpus size.
    val nDocs = 40000
    val docs = (1 to nDocs).map(i => (i.toLong, s"the u$i"))
      .toDF("doc_id", "text")
    // AQE off (its skew splitting would mask the operator's own split);
    // auto-broadcast off (the naive DF table must take the shuffled path —
    // the split's hot arm still broadcasts via its explicit hint)
    withConf("spark.sql.adaptive.enabled", "false") {
     withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      withConf("spark.sql.shuffle.partitions", "64") {
        val naiveMax = maxTaskShuffleRead {
          graft.ml.TextOps.docRarityNaiveOf(docs)
            .write.format("noop").mode("overwrite").save()
        }
        val splitMax = maxTaskShuffleRead {
          graft.ml.TextOps.docRarityOf(docs)
            .write.format("noop").mode("overwrite").save()
        }
        spark.catalog.clearCache() // docRarityOf persists its pair table
        assert(naiveMax >= nDocs.toLong,
          s"naive hot task read only $naiveMax records — skew not reproduced")
        // the stopword rides the broadcast arm, and the anti-join carves
        // its pair rows out BEFORE the cold shuffle, so the split's worst
        // task is max(top-K merge = partitions*HotVocab, ~corpus/partitions)
        // — both bounded, neither proportional to the hot key
        assert(splitMax <= naiveMax / 8,
          s"split max task read $splitMax vs naive $naiveMax — " +
            "hot tokens still entering the shuffle")
      }
     }
    }
  }

  test("LPA hub round: map-side argmax caps the max task far below the " +
      "window form on a planted 40k-degree hub (task metrics)") {
    import spark.implicits._
    // ONE hub dst (node 0) with 40k distinct-labeled in-neighbors plus a
    // 4k-edge tail. Round-1 labels are unique (label = node id), so the
    // per-dst vote set is the full in-degree: a row_number window
    // PARTITIONED BY dst funnels all 40k hub candidates through a single
    // reducer task — UNLESS Spark's InferWindowGroupLimit rescues the
    // rn = 1 pattern with a partial per-partition top-1 (it does, since
    // 3.5). max(struct(n, -community)) partial-aggregates map-side by
    // construction: the hub contributes at most one row per map partition
    // to the final shuffle with NO dependence on that optimizer rule (or
    // on its sort-per-partition machinery), which is why the library
    // round uses it. The window arm below pins the rule OFF to exhibit
    // the funnel this guard exists for; the argmax arm runs under the
    // same conf and must stay flat.
    val edges = ((1 to 40000).map(i => (i.toLong, 0L)) ++
      (1 to 4000).map(i => (40000L + i.toLong, 44000L + (i % 4000).toLong)))
      .toDF("src", "dst")
    // AQE off (its skew splitting would blur the comparison); broadcast
    // off (the label table must take the shuffled path both sides take
    // at corpus scale); enough reduce partitions that tail dsts spread
    withConf("spark.sql.adaptive.enabled", "false") {
      withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
       withConf("spark.sql.shuffle.partitions", "64") {
        withConf("spark.sql.optimizer.windowGroupLimitThreshold", "-1") {
        // the pre-round-12 round shape, inline: join + count + window
        val windowMax = maxTaskShuffleRead {
          val labels0 = edges.select(col("src").as("node"))
            .union(edges.select(col("dst").as("node"))).distinct()
            .select(col("node"), col("node").as("community"))
          val cnt = edges.join(labels0, col("src") === col("node"))
            .groupBy(col("dst"), col("community"))
            .agg(count(lit(1)).as("n"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("dst"))
            .orderBy(col("n").desc, col("community").asc)
          cnt.withColumn("rn", org.apache.spark.sql.functions.row_number()
              .over(w))
            .filter(col("rn") === 1)
            .select(col("dst").as("node"), col("community"))
            .write.format("noop").mode("overwrite").save()
        }
        val argmaxMax = maxTaskShuffleRead {
          val out = graft.operators.Graph.labelPropagationOf(edges, iters = 1)
          out.write.format("noop").mode("overwrite").save()
          // same vote outcome on the hub: all-n=1 tie breaks to the
          // lowest community id among its in-neighbors
          assert(out.filter(col("node") === 0L).head().getLong(1) == 1L)
        }
        assert(windowMax >= 40000L,
          s"window hub task read only $windowMax records — skew not reproduced")
        assert(argmaxMax <= windowMax / 8,
          s"argmax max task read $argmaxMax vs window $windowMax — " +
            "expected the hub fan-in to collapse map-side")
        }
       }
      }
    }
    spark.catalog.clearCache() // release the LPA edge cache
  }

  test("spread follows the session's parallelism and never forces an exchange on wide input") {
    val p = spark.sparkContext.defaultParallelism // 4 under this suite, not 32
    // narrow input (1 partition): spread widens to exactly defaultParallelism
    val narrow = spark.range(0, 1000, 1, 1).toDF("id")
    assert(Scale.spread(narrow).rdd.getNumPartitions == p,
      "spread must target the session's parallelism, not a hardcoded width")
    // already-wide input: pass through untouched — same partition count,
    // no Exchange node introduced
    val wide = spark.range(0, 1000, 1, p * 2).toDF("id")
    val spreadWide = Scale.spread(wide)
    assert(spreadWide.rdd.getNumPartitions == p * 2)
    assert(!spreadWide.queryExecution.executedPlan.toString.contains("Exchange"),
      "spread must not force an exchange when the input is already split")
  }
}
