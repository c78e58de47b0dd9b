package graft

import org.apache.spark.sql.execution.FormattedMode

/** Scratch plan dumper / single-query timer for iterating on PlanSpec
  * expectations and perf work. `SPARK_GRAFT_PROBE=time` times count() at
  * SPARK_GRAFT_SF_DIR (min of 2 runs, Bench's convention) instead of
  * printing plans.
  */
object ProbeMain {
  def main(args: Array[String]): Unit = {
    val timing = sys.env.get("SPARK_GRAFT_PROBE").contains("time")
    // stream mode measures the bench's exact conditions — same core count
    // and therefore the same state-partition count as GraftSession default
    val stream = sys.env.get("SPARK_GRAFT_PROBE").contains("stream")
    // shared-warm profiling also runs at bench conditions (sf0.1, 32 cores)
    val benchLike = timing || stream ||
      sys.env.get("SPARK_GRAFT_PROBE").exists(p =>
        p.contains("shared") || p.contains("pairsprof") ||
        p.contains("reachprof") || p.contains("dedupprof"))
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      if (benchLike) "/root/testdata/sf0.1" else "/root/testdata/sf0.01")
    val spark = GraftSession.create("probe", if (benchLike) "32" else "8")
    // SPARK_GRAFT_PROBE=phase: split one invocation's wall-clock into
    // build/analyze/optimize/physical-plan/execute — separates fixed
    // driver-side planning cost (constant at any SF) from data cost.
    if (sys.env.get("SPARK_GRAFT_PROBE").contains("phase")) {
      args.foreach { name =>
        var t0 = System.nanoTime()
        def lap(): Double = {
          val d = (System.nanoTime() - t0) / 1e9; t0 = System.nanoTime(); d
        }
        val df = SparkEntry.queries(name)(spark, dir)
        val build = lap()
        df.queryExecution.analyzed; val an = lap()
        df.queryExecution.optimizedPlan; val opt = lap()
        df.queryExecution.executedPlan; val phys = lap()
        df.count(); val exec = lap()
        println(f"PHASE $name build=$build%.2f analyze=$an%.2f " +
          f"optimize=$opt%.2f physical=$phys%.2f execute=$exec%.2f")
      }
      spark.stop(); return
    }
    // SPARK_GRAFT_PROBE=stream: run the named queries once with a
    // StreamingQueryListener attached and dump every micro-batch's
    // durationMs breakdown (triggerExecution / addBatch / getBatch /
    // queryPlanning / walCommit / commitOffsets) plus state-operator
    // commit times — the measurement tool for the k-family replay cost
    // (guide §1: find where the ~13 s/replay actually goes before
    // touching anything).
    if (sys.env.get("SPARK_GRAFT_PROBE").contains("stream")) {
      import org.apache.spark.sql.streaming.StreamingQueryListener
      val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit =
          events.add(e.progress.json)
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })
      args.foreach { name =>
        events.clear()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"==== STREAM $name total=$sec%.2f s ====")
        // Listener delivery is async: poll until the event queue has been
        // stable for two consecutive 300 ms windows (cap 6 s) instead of
        // a fixed sleep, so late-arriving progress events are neither
        // dropped nor bled into the next query's dump (ADVICE r14).
        var stable = 0
        var last = -1
        val deadline = System.nanoTime() + 6L * 1000 * 1000 * 1000
        while (stable < 2 && System.nanoTime() < deadline) {
          Thread.sleep(300)
          val n = events.size
          stable = if (n == last) stable + 1 else 0
          last = n
        }
        events.forEach(j => println(s"PROGRESS $j"))
      }
      spark.stop(); return
    }
    // SPARK_GRAFT_PROBE=plansweep: dump explain("formatted") for EVERY
    // batch query plus one-line plan-shape stats (Exchange count, join
    // strategies, WholeStageCodegen spans) — the optimization-guide §1
    // audit artifact. Streaming replays (k18–k34) are skipped: their
    // builder EXECUTES the streaming query and returns the sink
    // read-back, so the batch explain would show a parquet scan, not the
    // plan that ran; their evidence is the =stream probe's progress dump.
    if (sys.env.get("SPARK_GRAFT_PROBE").contains("plansweep")) {
      val skip = "^k(1[89]|2\\d|3\\d)_".r
      // with args: dump only the named queries (targeted plan reads)
      val selected = if (args.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
        else args.toSeq.map(n => n -> SparkEntry.queries(n))
      selected.foreach { case (name, fn) =>
        if (skip.findFirstIn(name).isDefined)
          println(s"==== $name ==== SKIPPED (streaming replay; " +
            "see SPARK_GRAFT_PROBE=stream)")
        else try {
          val df = fn(spark, dir)
          // execute THIS df's own QueryExecution (count()/noop-write
          // each build a derived one, leaving the df's
          // AdaptiveSparkPlan isFinalPlan=false): collect() runs
          // queryExecution.executedPlan itself, so the explain below
          // shows the final re-optimized plan — AQEShuffleRead nodes
          // and codegen ids of what actually ran (guide §7.2). Outputs
          // are result-sized at sf0.01, driver-safe.
          df.collect()
          val s = df.queryExecution.explainString(FormattedMode)
          val nEx = "Exchange".r.findAllIn(s).size
          val joins = Seq("BroadcastHashJoin", "SortMergeJoin",
            "ShuffledHashJoin", "BroadcastNestedLoopJoin")
            .map(j => j -> s.sliding(j.length).count(_ == j))
            .filter(_._2 > 0).map { case (j, n) => s"$j=$n" }
          // formatted mode tags codegen membership as "[codegen id : N]"
          val wscg = "codegen id".r.findAllIn(s).size
          println(s"==== $name ==== exchanges=$nEx " +
            s"${joins.mkString(",")} wscg=$wscg")
          println(s)
        } catch {
          case e: Throwable => println(s"==== $name ==== ERR ${e.getMessage}")
        }
      }
      spark.stop(); return
    }
    // SPARK_GRAFT_PROBE=shared: time each component of Shared.warmAll
    // individually (bench reports only the lump-sum shared_build_sec) —
    // the profiling step for VERDICT r14 item 4.
    if (sys.env.get("SPARK_GRAFT_PROBE").contains("shared")) {
      // mirror Bench's session warm so component times exclude one-time
      // startup (codegen, footers, listing)
      Tables.names.foreach { n =>
        try Tables.load(spark, dir, n).count()
        catch { case _: Throwable => () }
      }
      def lap[T](label: String)(body: => T): Unit = {
        val t0 = System.nanoTime()
        body
        println(f"SHARED $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      lap("pairs")(graft.queries.Shared.pairs(spark, dir).count())
      lap("khop3")(graft.queries.Shared.khop3(spark, dir).count())
      lap("bpeMerges")(graft.queries.Shared.bpeMerges(spark, dir).count())
      lap("k20SliceRoot")(graft.queries.Extras6.k20SliceRoot(spark, dir))
      spark.stop(); return
    }
    // SPARK_GRAFT_PROBE=pairsprof: stage-by-stage timing INSIDE the two
    // expensive Shared.warmAll components (minhash pair index, khop3 BFS)
    // — decides where VERDICT r15 item 4's seconds actually are.
    if (sys.env.get("SPARK_GRAFT_PROBE").contains("pairsprof")) {
      import org.apache.spark.sql.functions._
      Tables.names.foreach { n =>
        try Tables.load(spark, dir, n).count()
        catch { case _: Throwable => () }
      }
      def lap[T](label: String)(body: => T): Unit = {
        val t0 = System.nanoTime()
        body
        println(f"PAIRSPROF $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      val docs = Tables.load(spark, dir, "documents")
      val sigs = graft.operators.Dedup.minhashSignatures(
        docs.repartition(col("doc_id")))
      lap("sig-pass")(sigs.write.format("noop").mode("overwrite").save())
      lap("bands")(graft.operators.Dedup.minhashBands(sigs)
        .write.format("noop").mode("overwrite").save())
      lap("pairs-full")(graft.operators.Dedup.minhashPairs(docs)
        .write.format("noop").mode("overwrite").save())
      val tmp = java.nio.file.Files.createTempDirectory("pairsprof")
      lap("pairs-write")(graft.operators.Dedup.writePairIndex(
        docs, tmp.resolve("idx").toString))
      // khop3: hop-by-hop laps (mirrors Graph.kHopCounts internals, with
      // EAGER materialization per hop so each hop's cost is attributable)
      val e0 = graft.queries.Shared.orderGraphEdges(spark, dir)
      lap("edges-build")(e0.count())
      val seeds = graft.queries.Shared.orderGraphSeeds(spark, dir)
      println(s"PAIRSPROF edges=${e0.count()} seeds=${seeds.count()}")
      val e1 = e0.select(col("src"), col("dst")).distinct()
        .localCheckpoint(false)
      var visited = seeds.select(col("seed"), col("seed").as("node"))
        .distinct().localCheckpoint(false)
      var frontier = visited
      (1 to 3).foreach { d =>
        var n = 0L
        lap(s"hop$d") {
          val next = frontier.join(e1, col("node") === col("src"))
            .select(col("seed"), col("dst").as("node")).distinct()
            .join(visited, Seq("seed", "node"), "left_anti")
            .localCheckpoint(false)
          n = next.count()
          visited = visited.unionByName(next)
          frontier = next
        }
        println(s"PAIRSPROF hop$d rows=$n")
      }
      lap("khop3-full")(graft.operators.Graph.kHopCounts(e0, seeds, 3)
        .write.format("noop").mode("overwrite").save())
      lap("khop3-bitset")(graft.operators.Graph.kHopCountsBitset(
          e0, seeds, 3)
        .write.format("noop").mode("overwrite").save())
      spark.stop(); return
    }
    // SPARK_GRAFT_PROBE=reachprof: per-hop cost attribution for the
    // g20/g21/g23 reach sketches (VERDICT r15 item 3) — mirrors
    // Graph.reachSketch's g20 shape with EAGER per-hop materialization so
    // join+agg+checkpoint cost is attributable per hop, then times the
    // real queries with checkpoint=true vs checkpoint=false (the lineage
    // trade: per-hop localCheckpoint overhead vs re-executing shared
    // prefixes under the final union).
    if (sys.env.get("SPARK_GRAFT_PROBE").contains("reachprof")) {
      import org.apache.spark.sql.functions._
      Tables.names.foreach { n =>
        try Tables.load(spark, dir, n).count()
        catch { case _: Throwable => () }
      }
      def lap[T](label: String)(body: => T): Unit = {
        val t0 = System.nanoTime()
        body
        println(f"REACHPROF $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      val e = graft.queries.Shared.orderGraphEdges(spark, dir)
      e.count()
      val seeds = graft.queries.Shared.orderGraphSeeds(spark, dir)
      // mirror of reachSketch's LONG-register grid (g20: k=3, m=64)
      val H = 1099511627776L
      val m = 64
      def hashReg(j: Int) = pmod(graft.functions.CrossHash.md5Long(
        concat(lit(j.toString), lit(":"), col("node").cast("string"))),
        lit(H))
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      var regs: org.apache.spark.sql.DataFrame = null
      lap("regs0-build+cut") {
        regs = nodes.select(col("node") +:
          (0 until m).map(j => hashReg(j).as(s"r$j")): _*)
          .localCheckpoint(false)
        regs.count()
      }
      val rs = (0 until m).map(j => col(s"r$j"))
      (1 to 3).foreach { d =>
        lap(s"hop$d-join+agg+cut") {
          val fromNbr = e.join(regs, col("dst") === col("node"))
            .select(col("src").as("node") +: rs: _*)
          regs = regs.unionByName(fromNbr)
            .groupBy(col("node"))
            .agg(min(col("r0")).as("r0"),
              (1 until m).map(j => min(col(s"r$j")).as(s"r$j")): _*)
            .localCheckpoint(false)
          regs.count()
        }
      }
      // §2.3 variant: edges CLUSTERED by src (each partition holds a
      // disjoint src set), so under a broadcast hop join the map-side
      // partial aggregate emits ~V rows total instead of ~(tasks × V) —
      // the per-hop shuffle carries node-sized partials once, not once
      // per task. One extra E-row exchange up front, paid once per query.
      val nShuf = spark.conf.get("spark.sql.shuffle.partitions").toInt
      var regsC: org.apache.spark.sql.DataFrame = null
      var eC: org.apache.spark.sql.DataFrame = null
      lap("clustered-edges-build") {
        eC = e.repartition(nShuf, col("src")).localCheckpoint(false)
        eC.count()
      }
      lap("regs0C-build+cut") {
        regsC = nodes.select(col("node") +:
          (0 until m).map(j => hashReg(j).as(s"r$j")): _*)
          .localCheckpoint(false)
        regsC.count()
      }
      (1 to 3).foreach { d =>
        lap(s"hop${d}C-join+agg+cut") {
          val fromNbr = eC.join(regsC, col("dst") === col("node"))
            .select(col("src").as("node") +: rs: _*)
          regsC = regsC.unionByName(fromNbr)
            .groupBy(col("node"))
            .agg(min(col("r0")).as("r0"),
              (1 until m).map(j => min(col(s"r$j")).as(s"r$j")): _*)
            .localCheckpoint(false)
          regsC.count()
        }
      }
      lap("readoff-x3") {
        val ssum = rs.reduce(_ + _)
        (1 to 3).map(d => regs.join(broadcast(seeds.select(col("seed"))),
            col("node") === col("seed"))
          .select(col("seed"), lit(d).as("dist"), ssum.as("ssum")))
          .reduce(_ unionByName _).count()
      }
      // the real queries, min-of-2 each, cut vs no-cut
      Seq(("g20-cut", true), ("g20-nocut", false)).foreach { case (l, cp) =>
        val ts = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          graft.operators.Graph.reachSketch(e, seeds, k = 3, m = 64,
            checkpoint = cp).count()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"REACHPROF $l min=${ts.min}%.2f s (${ts.map(t => f"$t%.2f").mkString(",")})")
      }
      Seq(("g21-cut", true), ("g21-nocut", false)).foreach { case (l, cp) =>
        val ts = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          graft.operators.Graph.reachSketch(e, seeds, k = 3, m = 64,
            checkpoint = cp, intRegisters = true)
            .count()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"REACHPROF $l min=${ts.min}%.2f s (${ts.map(t => f"$t%.2f").mkString(",")})")
      }
      spark.stop(); return
    }
    // SPARK_GRAFT_PROBE=dedupprof: A/B the localCheckpoint stage
    // boundaries inside d17/d21/d24 (VERDICT r15 item 5) — each variant
    // mirrors the query body with cut = localCheckpoint vs identity, so
    // the boundary's current economics (post-AQE-coalescing) are
    // re-measured rather than assumed from the round they were added.
    if (sys.env.get("SPARK_GRAFT_PROBE").contains("dedupprof")) {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.DataFrame
      Tables.names.foreach { n =>
        try Tables.load(spark, dir, n).count()
        catch { case _: Throwable => () }
      }
      def lap(label: String)(body: => Unit): Unit = {
        val ts = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          body
          (System.nanoTime() - t0) / 1e9
        }
        println(f"DEDUPPROF $label min=${ts.min}%.2f s (${ts.map(t => f"$t%.2f").mkString(",")})")
      }
      val d = Tables.load(spark, dir, "documents")
      import graft.operators.{Dedup, Sampling, TextAnalysis, Similarity}
      def d21Body(cut: DataFrame => DataFrame): DataFrame = {
        val keep1 = cut(d.join(
          Dedup.gramNovelty(d)
            .filter(col("n_grams") > 0 && col("novelty_ratio") >= 0.3)
            .select(col("doc_id")), "doc_id"))
        val sizes = keep1.select(col("doc_id"),
          size(Dedup.shingles(col("text"), 3)).as("n_sh"))
        val drops = Dedup.containmentPairs(keep1)
          .join(sizes.select(col("doc_id").as("b"), col("n_sh").as("n_b")),
            "b")
          .filter(col("n_b") > col("n_a") ||
            (col("n_b") === col("n_a") && col("b") < col("a")))
          .select(col("a").as("doc_id")).distinct()
        val keep2 = cut(keep1.join(drops, Seq("doc_id"), "left_anti"))
        val pairs = Dedup.minhashPairs(keep2).select(col("a"), col("b"))
        Sampling.leakFreeSplit(keep2, pairs)
          .join(keep2.select(col("doc_id"), col("n_chars")), "doc_id")
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
          .orderBy(col("split"))
      }
      lap("d21-cut")(d21Body(_.localCheckpoint()).count())
      lap("d21-nocut")(d21Body(identity).count())
      def d24Body(cut: DataFrame => DataFrame): DataFrame =
        Dedup.embeddingNearDupPairsIvf(
            cut(Similarity.sifVectors(d)), "doc_id", "vec",
            minCosine = 0.95)
          .orderBy(col("a"), col("b"))
      lap("d24-cut")(d24Body(_.localCheckpoint()).count())
      lap("d24-nocut")(d24Body(identity).count())
      def d17Body(cut: DataFrame => DataFrame): DataFrame = {
        val cleaned = cut(Dedup.removeDuplicatedSpans(d)
          .filter(col("clean_text") =!= ""))
        // NorthStar.fixtureWeights is private; same deterministic formula
        val weights = spark.range(0, 256)
          .select(col("id").cast("int").as("bucket"),
            (((col("id") * 37) % 201 - 100) / 100.0)
              .cast(org.apache.spark.sql.types.DecimalType(9, 3))
              .as("weight"))
        val gated = cut(cleaned.join(
          TextAnalysis.qualityScore(cleaned, weights, 256,
              textCol = "clean_text", threshold = -0.05)
            .filter(col("keep")).select(col("doc_id")), "doc_id"))
        val survivors = TextAnalysis.decontaminateBloom(
            gated.filter(col("doc_id") % 97 =!= 1)
              .select(col("doc_id"), col("clean_text").as("text")),
            d.filter(col("doc_id") % 97 === 1))
          .filter(!col("contaminated")).select(col("doc_id"))
        val dd = survivors.join(cleaned, "doc_id")
          .withColumn("domain",
            when(col("doc_id") % 10 < 7, "web")
              .when(col("doc_id") % 10 < 9, "books").otherwise("code"))
        Sampling.temperatureMixture(dd, "domain", 100L, textCol = "clean_text")
          .groupBy(col("domain"))
          .agg(count(lit(1)).as("n_survivors"),
            count(when(col("keep"), 1)).as("n_sampled"),
            first(col("sample_rate")).as("sample_rate"),
            min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
          .orderBy(col("domain"))
      }
      lap("d17-cut")(d17Body(_.localCheckpoint()).count())
      lap("d17-nocut")(d17Body(identity).count())
      spark.stop(); return
    }
    args.foreach { name =>
      println(s"==== $name ====")
      if (timing) {
        val times = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"$name: ${times.min}%.3f s (runs: ${times.map(t => f"$t%.2f").mkString(", ")})")
      } else {
        val df = SparkEntry.queries(name)(spark, dir)
        println(df.queryExecution.explainString(FormattedMode))
      }
    }
    // SPARK_GRAFT_PROBE=gwin: sweep EVERY query for unpartitioned logical
    // windows (the single-task scale hazard) — each hit must be a
    // bounded/summary-grain frame; entity-grain hits get the
    // Packing.globalRowNumber treatment. The CI version of this sweep is
    // OutputSchemaSpec's allowlist gate — keep the detection predicate
    // (logical Window, empty partitionSpec) in lockstep with it; this
    // probe additionally prints the window expressions for triage.
    if (sys.env.get("SPARK_GRAFT_PROBE").contains("gwin")) {
      import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try {
          val plan = fn(spark, dir).queryExecution.optimizedPlan
          val hits = plan.collect {
            case w: LWindow if w.partitionSpec.isEmpty =>
              w.windowExpressions.map(_.sql).mkString("; ").take(90)
          }
          if (hits.nonEmpty)
            println(s"GWIN $name :: ${hits.mkString(" || ")}")
        } catch {
          case e: Throwable => println(s"GWIN-ERR $name ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
