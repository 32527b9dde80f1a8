package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.StateStore

/** Scaling probe for the LSH dedup / ANN paths: synthesizes corpora several
  * times larger than the sf0.1 testdata and measures wall time and candidate
  * counts, to show the bucket-join pipelines scale near-linearly (the
  * all-pairs baselines would be quadratic). Run:
  *   sbt "runMain graft.tools.ScaleProbe"
  */
object ScaleProbe {
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Synthetic corpus: `n` docs of ~60 words from a Zipf-ish vocab, with 2%
    * planted near-duplicates (one word changed). Deterministic per n.
    */
  def corpus(spark: SparkSession, n: Int): DataFrame = {
    val base = spark.range(n).select(
      col("id").as("doc_id"),
      // 60 pseudo-random vocab picks per doc, multiplicative-hash driven
      concat_ws(" ", (0 until 60).map(i =>
        concat(lit("w"), pmod(xxhash64(col("id"), lit(i)), lit(5000)))): _*).as("text"))
    val dups = base.filter(pmod(col("doc_id"), lit(50)) === 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
    base.unionAll(dups)
  }

  /** Synthetic embeddings: `n` vectors of `dim` float components in [-1, 1),
    * hash-driven and deterministic per (n, dim).
    */
  def embeddings(spark: SparkSession, n: Int, dim: Int): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), i =>
        ((pmod(xxhash64(col("id"), i), lit(2000)) - 1000) / 1000.0)
          .cast("float")).as("embedding"))

  /** Random graph with `nEdges` edges over `nNodes` nodes (plus long chains,
    * the worst case for label propagation and the reason the star algorithm
    * exists: chain diameter is huge, star rounds stay O(log n)).
    */
  def graph(spark: SparkSession, nNodes: Long, nEdges: Long): DataFrame = {
    val rand = spark.range(nEdges).select(
      pmod(xxhash64(col("id"), lit(1)), lit(nNodes)).as("a"),
      pmod(xxhash64(col("id"), lit(2)), lit(nNodes)).as("b"))
    // plus one chain through 10% of the node space: 0-1, 1-2, ...
    val chain = spark.range(nNodes / 10)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    rand.unionAll(chain)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session(32)
    spark.sparkContext.setLogLevel("ERROR")
    // optional section filter: runMain graft.tools.ScaleProbe ivf decon …
    def want(s: String): Boolean = args.isEmpty || args.contains(s)
    // connected components: 4x edges per step, chain diameter 10% of nodes
    if (want("cc")) for ((nNodes, nEdges) <- Seq((50000L, 25000L), (200000L, 100000L), (800000L, 400000L))) {
      val edges = graph(spark, nNodes, nEdges).persist()
      edges.count()
      val (nComp, tCc) = time {
        graft.llm.Dedup.connectedComponents(edges)
          .agg(countDistinct(col("cluster_id"))).head().getLong(0)
      }
      println(f"SCALE cc nodes=$nNodes%7d edges=${nEdges + nNodes / 10}%7d  cc=${tCc}%6.1f s (components=$nComp)")
      edges.unpersist()
    }
    // label propagation: same 4x-edges ladder, 3 synchronous rounds; each
    // round is two keyed shuffles (edge⋈labels, (node,label) count + max),
    // so wall should track edges linearly like cc/pagerank
    if (want("lpa")) for ((nNodes, nEdges) <- Seq((50000L, 100000L), (200000L, 400000L), (800000L, 1600000L))) {
      val g = graph(spark, nNodes, nEdges)
      val sym = g.select(col("a").as("s"), col("b").as("t"))
        .unionAll(g.select(col("b").as("s"), col("a").as("t"))).persist()
      sym.count()
      val (nComm, tLpa) = time {
        graft.operators.Graph.labelPropagation(sym, "s", "t", iters = 3)
          .agg(countDistinct(col("lbl"))).head().getLong(0)
      }
      println(f"SCALE lpa nodes=$nNodes%7d edges=${2 * (nEdges + nNodes / 10)}%8d  lpa3=${tLpa}%6.1f s (communities=$nComm)")
      sym.unpersist()
    }
    // streamed Generator vs array-then-explode shingling at constant total
    // window count but growing words-per-doc: both are linear in windows,
    // but the array form materializes all W windows per row before explode
    // (peak O(W·n) per row) while the generator holds one window — the
    // probe shows the generator's wall time stays flat as per-doc size
    // grows 64×, i.e. no per-row blowup to amortize.
    if (want("generator")) for ((nDocs, wpd) <- Seq((2048L, 512), (256L, 4096), (32L, 32768))) {
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        split(array_join(transform(sequence(lit(0), lit(wpd - 1)),
          i => concat(lit("w"), pmod(xxhash64(col("id"), i), lit(5000)))), " "),
          " ").as("toks")).persist()
      docs.count()
      val (nGen, tGen) = time {
        docs.selectExpr("doc_id", "graft_shingle_explode(toks, 3) AS (pos, shingle)")
          .agg(count(lit(1)), max(length(col("shingle")))).head().getLong(0)
      }
      val (nArr, tArr) = time {
        docs.select(col("doc_id"),
            posexplode(graft.functions.Registry.wordShingles(col("toks"), 3)))
          .agg(count(lit(1)), max(length(col("col")))).head().getLong(0)
      }
      require(nGen == nArr, s"generator/array window counts differ: $nGen vs $nArr")
      println(f"SCALE generator docs=$nDocs%5d words/doc=$wpd%6d windows=$nGen%9d  gen=${tGen}%6.1f s  array=${tArr}%6.1f s")
      docs.unpersist()
    }
    // quantile normalization: 4× rows per step; the global CDF state is
    // value-cardinality-bounded (5000 distinct values throughout), so wall
    // should track the row count (two shuffles + binned lookups), not n².
    if (want("qnorm")) for (n <- Seq(200000L, 800000L, 3200000L)) {
      val df = spark.range(n).select(col("id"),
        concat(lit("s"), pmod(xxhash64(col("id"), lit(3)), lit(8))).as("grp"),
        pmod(xxhash64(col("id"), lit(5)), lit(5000)).as("v")).persist()
      df.count()
      val (chk, t) = time {
        graft.operators.Analytics.quantileNormalize(df, "grp", "v")
          .agg(count(lit(1)), sum(floor(col("norm") * 100)).cast("long")).head().getLong(0)
      }
      println(f"SCALE qnorm rows=$n%8d  t=${t}%6.1f s (rows_out=$chk)")
      df.unpersist()
    }
    // BFS: 4× edges per step over the chain-worst-case graph; per-hop cost
    // is one frontier-join shuffle, so wall tracks (hops × shuffle cost),
    // with the frontier — not the full distance table — driving each join.
    if (want("bfs")) for ((nNodes, nEdges) <- Seq((50000L, 25000L), (200000L, 100000L), (800000L, 400000L))) {
      val edges = graph(spark, nNodes, nEdges).persist()
      edges.count()
      val (reached, tBfs) = time {
        graft.operators.Graph.bfsDistances(edges, "a", "b", source = 0L, maxDepth = 8)
          .count()
      }
      println(f"SCALE bfs nodes=$nNodes%7d edges=${nEdges + nNodes / 10}%7d  bfs8=${tBfs}%6.1f s (reached=$reached)")
      edges.unpersist()
    }
    if (want("lsh")) for (n <- Seq(5000, 20000, 80000)) {
      val docs = corpus(spark, n).persist()
      val total = docs.count()
      val (pairs, tDedup) = time {
        graft.llm.Dedup.nearDuplicates(docs, "doc_id", "text",
          threshold = 0.8, bands = 16, rowsPerBand = 2).count()
      }
      val (simPairs, tSim) = time {
        graft.llm.Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3).count()
      }
      println(f"SCALE n=$total%7d  minhash_lsh=${tDedup}%6.1f s (pairs=$pairs)  simhash=${tSim}%6.1f s (pairs=$simPairs)")
      docs.unpersist()
    }
    // flagship dedup path at ~1M docs (10× the lsh section): wall + shuffle
    // bytes + planted recall. The banding pipeline is bucket-join-shaped, so
    // the 4×-corpus ≈ 2×-wall curve measured at 20k→80k must hold through
    // 250k→1M, and every planted near-dup pair (jaccard ≈ 0.95, far above
    // the 0.8 threshold where 16×2 banding recall is ~1) must surface.
    if (want("lsh1m")) {
      val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          shuffleWrite.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      for (n <- Seq(250000, 1000000)) {
        val docs = corpus(spark, n).persist()
        val total = docs.count()
        shuffleWrite.set(0)
        val ((nPairs, found, nPlanted), t) = time {
          val pairs = graft.llm.Dedup.nearDuplicates(docs, "doc_id", "text",
            threshold = 0.8, bands = 16, rowsPerBand = 2).persist()
          val nPairs = pairs.count()
          val planted = docs.filter(col("doc_id") >= 1000000000L)
            .select((col("doc_id") - 1000000000L).as("id_a"), col("doc_id").as("id_b"))
          val found = planted.join(pairs, Seq("id_a", "id_b"), "left_semi").count()
          val nPlanted = planted.count()
          pairs.unpersist()
          (nPairs, found, nPlanted)
        }
        // drain barrier: a fixed sleep undercounts on a slow listener bus
        if (!org.apache.spark.sql.graftbridge.ColumnBridge
          .waitListenerBusEmpty(spark.sparkContext, 30000))
          System.err.println("[probe] WARN listener bus did not drain in 30s")
        val gib = shuffleWrite.get / math.pow(2, 30)
        println(f"SCALE lsh1m n=$total%8d  minhash_lsh=${t}%6.1f s  shuffle=${gib}%6.2f GiB  recall=$found/$nPlanted  pairs=$nPairs")
        docs.unpersist()
      }
      spark.sparkContext.removeSparkListener(listener)
    }
    // incremental screening: index the corpus ONCE, screen the planted-dup
    // batch against it — per-batch cost must not grow with corpus size
    // beyond the bucket join (the corpus is never re-scanned)
    if (want("screen")) for (n <- Seq(20000, 80000)) {
      val all = corpus(spark, n)
      val base = all.filter(col("doc_id") < 1000000000L).persist()
      val batch = all.filter(col("doc_id") >= 1000000000L).persist()
      base.count(); val bCount = batch.count()
      val (idx, tIdx) = time {
        val i = graft.llm.Dedup.buildCorpusIndex(base, "doc_id", "text",
          bands = 16, rowsPerBand = 2)
        i.banded.count(); i.sets.count(); i
      }
      val (hits, tScreen) = time {
        graft.llm.Dedup.screenAgainstCorpus(batch, "doc_id", "text", idx, 0.8)
          .select("new_id").distinct().count()
      }
      println(f"SCALE screen corpus=$n%7d batch=$bCount%5d  index=${tIdx}%6.1f s  screen=${tScreen}%6.1f s  matched=$hits/$bCount")
      idx.release(); base.unpersist(); batch.unpersist()
    }
    // SemDeDup: nlist grows with the corpus so the expected cluster size
    // (and hence Σcᵢ² pairwise work per cluster) stays bounded — wall must
    // scale like the assignment scan + the bounded intra-cluster join, not
    // like n². Planted dups are scaled copies (cosine exactly 1, and scale-
    // invariant assignment puts both in the same cluster), so recall must
    // be total.
    if (want("semdedup")) for ((n, nlist) <- Seq((20000, 64), (80000, 256), (320000, 1024))) {
      val base = embeddings(spark, n, 32)
      val planted = base.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select((col("vec_id") + 1000000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.01f)).as("embedding"))
      val all = base.unionAll(planted).persist()
      val total = all.count()
      val nPlanted = total - n
      val (kept, t) = time {
        graft.llm.Similarity.semanticDedup(all, "vec_id", "embedding",
          threshold = 0.95, nlist = nlist, lloydIters = 1).count()
      }
      // scale path: sample-capped Lloyd + hierarchical coarse→fine routing
      val (keptH, tH) = time {
        graft.llm.Similarity.semanticDedup(all, "vec_id", "embedding",
          threshold = 0.95, nlist = nlist, lloydIters = 1,
          sampleCap = 50000, hierarchical = true).count()
      }
      println(f"SCALE semdedup n=$total%7d nlist=$nlist%5d  flat=${t}%6.1f s (dropped=${total - kept})  hier=${tH}%6.1f s (dropped=${total - keptH}, planted=$nPlanted)")
      all.unpersist()
    }
    // decontamination: eval gram set stays FIXED while the training corpus
    // grows — cost must scale with the corpus scan (broadcast membership
    // check + one agg), never with corpus × eval
    if (want("decon")) for (n <- Seq(20000, 80000, 320000)) {
      val train = corpus(spark, n).filter(col("doc_id") < 1000000000L).persist()
      val tCount = train.count()
      // fixed 500-doc eval set at every corpus size — selected by id predicate,
      // not limit(), so the set is identical across runs/partitionings
      val bench = corpus(spark, 2000).filter(col("doc_id") < 500)
      val (flagged, tDecon) = time {
        graft.llm.Dedup.decontaminate(train, bench, "doc_id", "text",
          n = 4, minMatches = 1).count()
      }
      println(f"SCALE decon train=$tCount%7d eval=500  decon=${tDecon}%6.1f s (flagged=$flagged)")
      train.unpersist()
    }
    // asof-join skew: ONE hot key carries 50% of both sides. The plain
    // window carry funnels the hot key through a single task (wall grows
    // with the hot key's row count); the bucketed two-phase carry spreads it
    // over #buckets tasks — wall must stay near-flat as rows double.
    if (want("asof")) for (n <- Seq(1000000, 2000000, 4000000)) {
      import org.apache.spark.sql.functions.{floor => ffloor}
      def side(rows: Int, payload: String) = spark.range(rows).select(
        when(pmod(col("id"), lit(2)) === 0, lit("hot"))
          .otherwise(concat(lit("k"), pmod(xxhash64(col("id")), lit(1000))))
          .as("k"),
        pmod(xxhash64(col("id"), lit(7)), lit(100000000L)).as("t"),
        col("id").as(payload))
      val l = side(n, "lid").persist(); val r = side(n, "rv").persist()
      l.count(); r.count()
      val (nPlain, tPlain) = time {
        graft.operators.Joins.asofJoin(l, r, Seq("k"), "t", "t", Seq("rv")).count()
      }
      val (nBuck, tBuck) = time {
        graft.operators.Joins.asofJoinBucketed(l, r, Seq("k"), "t", "t", Seq("rv"),
          t => ffloor(t / lit(1000000L))).count()
      }
      require(nPlain == nBuck, s"asof skew probe mismatch: $nPlain vs $nBuck")
      println(f"SCALE asof rows=${2 * n}%8d hotshare=0.5  plain=${tPlain}%6.1f s  bucketed=${tBuck}%6.1f s (rows out=$nPlain)")
      l.unpersist(); r.unpersist()
    }
    // bitmap exact-distinct rollup vs plain count_distinct: the bitmap
    // form's shuffle carries one ≤4 KB bitmap per (group, 32k-id bucket)
    // instead of every distinct id — and the merged-global count reuses
    // the SAME pre-aggregated state (no rescan). Wall should track or
    // beat count_distinct as rows grow; both must agree exactly.
    if (want("bitmap")) for (n <- Seq(2000000, 8000000)) {
      val df = spark.range(n).select(
        pmod(col("id"), lit(8L)).as("grp"),
        pmod(xxhash64(col("id")), lit(n / 4)).as("uid")).persist()
      df.count()
      val (exact, tExact) = time {
        df.groupBy("grp").agg(count_distinct(col("uid")).as("n"))
          .agg(sum("n")).collect()(0).getLong(0)
      }
      val (viaBm, tBm) = time {
        df.groupBy(col("grp"), bitmap_bucket_number(col("uid")).as("bkt"))
          .agg(bitmap_construct_agg(bitmap_bit_position(col("uid"))).as("bm"))
          .groupBy("grp").agg(sum(bitmap_count(col("bm"))).as("n"))
          .agg(sum("n")).collect()(0).getLong(0)
      }
      require(exact == viaBm, s"bitmap probe mismatch: $exact vs $viaBm")
      println(f"SCALE bitmap rows=$n%8d groups=8  count_distinct=${tExact}%6.1f s  bitmapRollup=${tBm}%6.1f s (distinct=$exact)")
      df.unpersist()
    }
    // custom-exec as-of vs the window-composed plan, uniform keys: the
    // merge exec shuffles each side separately (no union widening, no
    // window frame materialization) — wall should track or beat the window
    // form and both must agree exactly. Hot-key behavior is the same bound
    // for both (one task scans the hot key's rows); asofJoinBucketed stays
    // the skew answer.
    if (want("asofexec")) for (n <- Seq(1000000, 2000000, 4000000)) {
      def side(rows: Int, payload: String) = spark.range(rows).select(
        concat(lit("k"), pmod(xxhash64(col("id")), lit(100000))).as("k"),
        pmod(xxhash64(col("id"), lit(7)), lit(100000000L)).as("t"),
        col("id").as(payload))
      val l = side(n, "lid").persist(); val r = side(n, "rv").persist()
      l.count(); r.count()
      val (nWin, tWin) = time {
        graft.operators.Joins.asofJoin(l, r, Seq("k"), "t", "t", Seq("rv")).count()
      }
      val (nExec, tExec) = time {
        graft.plans.AsOfMergeJoin.join(l, r, Seq("k"), "t", "t", Seq("rv")).count()
      }
      require(nWin == nExec, s"asofexec probe mismatch: $nWin vs $nExec")
      println(f"SCALE asofexec rows=${2 * n}%8d keys=100k  window=${tWin}%6.1f s  mergeExec=${tExec}%6.1f s (rows out=$nExec)")
      l.unpersist(); r.unpersist()
    }
    // IVF nlist scaling: cost must grow ~linearly in nlist (one centroid-
    // matrix literal scored per row), with no codegen failure at nlist=1024.
    // The pre-r5 per-centroid-literal form blew up the expression tree past
    // nlist≈256 — this section exists to prove the rewrite holds.
    if (want("ivf")) {
      val dim = 64
      val emb = embeddings(spark, 20000, dim).persist()
      emb.count()
      for (nlist <- Seq(16, 256, 1024)) {
        val queries = emb.filter(pmod(col("vec_id"), lit(40)) === 0)
        val (rows, tIvf) = time {
          graft.llm.Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
            k = 1, nlist = nlist, nprobe = math.max(2, nlist / 16),
            lloydIters = 1).count()
        }
        println(f"SCALE ivf corpus=20000 dim=$dim nlist=$nlist%5d nprobe=${math.max(2, nlist / 16)}%3d  ivf=${tIvf}%6.1f s (rows=$rows)")
      }
      emb.unpersist()
    }
    // exact-median scale wall: one dominant group holding 25% of the rows.
    // The built-in median() buffers every value of the hot group in ONE
    // sort-based reducer; the histogram form shuffles (group, value) COUNTS
    // — partial-agg'd, so a bounded value domain collapses the shuffle, and
    // even the all-distinct worst case stays hash-agg'd and spillable
    // instead of single-threaded. Inputs regenerated (not cached) so the
    // probe's own memory can't confound the single-reducer failure mode;
    // runs LAST because the built-in side is expected to die, not degrade,
    // once the hot group outgrows one task's heap.
    if (want("median")) for (n <- Seq(16000000L, 64000000L)) {
      def frame(distinctValues: Boolean) = spark.range(n).select(
        when(pmod(col("id"), lit(4)) === 0, lit("hot"))
          .otherwise(concat(lit("g"), pmod(col("id"), lit(31)))).as("k"),
        (if (distinctValues) col("id").cast("double")
         else pmod(xxhash64(col("id")), lit(1000)).cast("double")).as("v"))
      // noop sink: a bare count() would let Catalyst PRUNE the median
      // expression (count of groups needs only the keys) and time nothing
      def run(out: org.apache.spark.sql.DataFrame): String =
        try { val (_, t) = time(out.write.mode("overwrite").format("noop").save()); f"$t%6.1f s" }
        catch { case e: Throwable => s"FAILED(${e.getClass.getSimpleName})" }
      for ((label, df) <- Seq("bounded" -> frame(false), "distinct" -> frame(true))) {
        val hist = run(graft.operators.Aggregates.medianExactScalable(df, Seq("k"), Seq("v" -> "m")))
        val builtin = run(df.groupBy("k").agg(median(col("v"))))
        println(f"SCALE median n=$n%9d values=$label%-8s histogram=$hist  builtin=$builtin")
      }
    }
    // analytics ops (q146-q152 family) at 4× steps: all-hash plans, so wall
    // and shuffle must scale ~linearly with rows (cooccurrence output is
    // attr-domain-bounded; retention cells bounded by cohorts×weeks)
    if (want("analytics")) {
      val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          shuffleWrite.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      def probe(label: String, n: Long)(out: => org.apache.spark.sql.DataFrame): Unit = {
        shuffleWrite.set(0)
        val (rows, t) = time {
          out.write.mode("overwrite").format("noop").save(); out.count()
        }
        Thread.sleep(500)
        val gib = shuffleWrite.get / math.pow(2, 30)
        println(f"SCALE analytics $label%-12s n=$n%9d  wall=${t}%6.1f s  shuffle=${gib}%6.2f GiB  out_rows=$rows")
      }
      for (n <- Seq(2000000L, 8000000L, 32000000L)) {
        val nUsers = n / 50
        val base = 1700000000000000L // epoch micros
        val ev = spark.range(n).select(
          pmod(xxhash64(col("id")), lit(nUsers)).as("user_id"),
          timestamp_micros(lit(base) + pmod(xxhash64(col("id"), lit(1)),
            lit(90L * 86400L * 1000000L))).as("ts"),
          col("id").as("event_id"),
          (pmod(xxhash64(col("id"), lit(2)), lit(100000)) / 100.0).as("value"))
          .persist()
        ev.count()
        probe("retention", n)(graft.operators.Analytics
          .retentionCohorts(ev, "user_id", "ts"))
        probe("ohlc_daily", n)(graft.operators.Analytics
          .ohlcBars(ev, Seq("user_id"), "ts", "value", "event_id",
            86400L * 1000000L))
        probe("outliers", n)(graft.operators.Analytics
          .groupOutliers(ev.withColumn("g", pmod(col("user_id"), lit(8))),
            Seq("g"), "value"))
        ev.unpersist()
        val facts = spark.range(n).select(
          (col("id") / 4).cast("long").as("b"),
          concat(lit("attr"), pmod(xxhash64(col("id")), lit(40))).as("attr"))
          .persist()
        facts.count()
        probe("cooccurrence", n)(graft.operators.Analytics
          .cooccurrence(facts, "b", "attr"))
        facts.unpersist()
        spark.sharedState.cacheManager.clearCache() // cooccurrence's persist
      }
      spark.sparkContext.removeSparkListener(listener)
    }
    // PageRank (q163): two shuffles per iteration, one scalar collect →
    // wall must scale ~linearly in edges at fixed iterations, and total
    // rank mass must stay 1.0 (dangling correction) at every size.
    if (want("graph")) for (nEdges <- Seq(1000000L, 4000000L)) {
      val nNodes = nEdges / 10
      val edges = spark.range(nEdges).select(
        pmod(xxhash64(col("id")), lit(nNodes)).as("src"),
        pmod(xxhash64(col("id"), lit(7)), lit(nNodes)).as("dst")).persist()
      edges.count()
      val (mass, t) = time {
        graft.operators.Graph.pageRank(edges, "src", "dst", iters = 3)
          .agg(sum(col("r"))).head().getDouble(0)
      }
      println(f"SCALE graph edges=$nEdges%9d nodes=$nNodes%8d  pagerank3=${t}%6.1f s  mass=${mass}%.6f")
      edges.unpersist()
    }
    // skipping index (q157): footer-only build over growing file counts —
    // build time must scale with FILE COUNT (footers), not data volume, and
    // a 5%-selectivity range over range-clustered files must prune ~95%.
    if (want("skipping")) for (nFiles <- Seq(64, 256)) {
      val rows = 4000000L
      val dir = java.nio.file.Files.createTempDirectory(s"graft_skipprobe").toString
      spark.range(rows).select(col("id"),
          (col("id") % 997).as("payload"))
        .repartitionByRange(nFiles, col("id")).sortWithinPartitions("id")
        .write.mode("overwrite").parquet(dir)
      val (stats, tBuild) = time {
        val s = graft.sources.Skipping.buildStats(spark, dir, Seq("id")).persist()
        s.count(); s
      }
      val lo = rows * 0.40; val hi = rows * 0.45 // 5% slice
      val (cands, tPrune) = time {
        graft.sources.Skipping.candidateFiles(stats, "id", lo, hi)
      }
      val kept = graft.sources.Skipping.readPruned(spark, dir, stats, "id", lo, hi,
        df => df.filter(col("id") >= lo && col("id") <= hi)).count()
      val full = rows * 5 / 100 + 1
      println(f"SCALE skipping files=$nFiles%4d rows=$rows%9d  build=${tBuild}%6.1f s  " +
        f"prune=${tPrune}%5.2f s  candidates=${cands.size}%4d/${nFiles}%d  rows_ok=${kept == full}")
      stats.unpersist()
    }
    // RangeJoinRewrite at scale: the naive point-in-interval join written
    // with zero manual binning, sized so a BNLJ would be ~10^11 compares —
    // only the rewritten binned hash join finishes. Intervals span ~2 bins;
    // matches per interval held constant by fixed point density, so output
    // and shuffle must scale linearly.
    if (want("rangejoin")) {
      spark.conf.set(graft.plans.RangeJoinRewrite.BIN_WIDTH_KEY, "100")
      for (n <- Seq(1000000L, 4000000L)) {
        val pts = spark.range(n).select(col("id").as("pid"),
          (pmod(xxhash64(col("id"), lit(1)), lit(n)) / 10.0).as("v")).persist()
        val ivs = spark.range(n / 10).select(col("id").as("iid"),
          (pmod(xxhash64(col("id"), lit(2)), lit(n)) / 10.0).as("lo"))
          .withColumn("hi", col("lo") + 15.0).persist()
        pts.count(); ivs.count()
        val (matches, t) = time {
          pts.join(ivs, col("v") >= col("lo") && col("v") <= col("hi")).count()
        }
        println(f"SCALE rangejoin pts=$n%8d ivs=${n / 10}%7d  join=${t}%6.1f s  matches=$matches (${matches.toDouble / (n / 10)}%5.1f/iv)")
        pts.unpersist(); ivs.unpersist()
      }
      spark.conf.unset(graft.plans.RangeJoinRewrite.BIN_WIDTH_KEY)
    }
    // triangle counting at scale: sparse random graphs (avg degree 8 held
    // constant), wedge join + semi closure (q212's shape). Wedge count per
    // node ~ degree² — with bounded average degree the wedge set scales
    // linearly; the hub-skew failure mode (one high-degree node → wedge
    // blow-up) is what the degeneracy-ordering refinement fixes.
    if (want("triangles")) for (nNodes <- Seq(250000L, 1000000L)) {
      val nEdges = nNodes * 4
      val edges = spark.range(nEdges).select(
          pmod(xxhash64(col("id"), lit(1)), lit(nNodes)).as("x"),
          pmod(xxhash64(col("id"), lit(2)), lit(nNodes)).as("y"))
        .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
        .filter(col("a") =!= col("b")).distinct().persist()
      val ne = edges.count()
      val (tri, t) = time {
        val e2 = edges.select(col("a").as("b2"), col("b").as("c"))
        val wedges = edges.join(e2, col("b") === col("b2"))
          .select(col("a"), col("c"))
        wedges.join(edges.select(col("a").as("ca"), col("b").as("cb")),
          col("a") === col("ca") && col("c") === col("cb"), "left_semi").count()
      }
      println(f"SCALE triangles nodes=$nNodes%8d edges=$ne%8d  count=${t}%6.1f s  triangles=$tri")
      edges.unpersist()
    }
    // grid radius join at constant density: box side grows with √n so each
    // r-cell holds ~2 points at every size — per-point candidate work is
    // O(1), pairs and shuffle must scale linearly, wall sub-linearly (the
    // quadratic trap would be a fixed box, where density → n and pairs → n²)
    if (want("spatial")) {
      val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          shuffleWrite.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      for (n <- Seq(250000L, 1000000L, 4000000L)) {
        val r = 1.0
        val side = math.sqrt(n / 2.0) * r
        val pts = spark.range(n).select(col("id"),
          (pmod(xxhash64(col("id"), lit(1)), lit(1000000)) / 1000000.0 * side).as("x"),
          (pmod(xxhash64(col("id"), lit(2)), lit(1000000)) / 1000000.0 * side).as("y"))
          .persist()
        pts.count()
        shuffleWrite.set(0)
        val (pairs, t) = time {
          graft.operators.Spatial.radiusJoin(pts, r).count()
        }
        // drain barrier: a fixed sleep undercounts on a slow listener bus
        if (!org.apache.spark.sql.graftbridge.ColumnBridge
          .waitListenerBusEmpty(spark.sparkContext, 30000))
          System.err.println("[probe] WARN listener bus did not drain in 30s")
        val gib = shuffleWrite.get / math.pow(2, 30)
        println(f"SCALE spatial n=$n%8d  radius_join=${t}%6.1f s  shuffle=${gib}%6.2f GiB  pairs=$pairs (${pairs.toDouble / n}%4.1f/pt)")
        pts.unpersist()
      }
      spark.sparkContext.removeSparkListener(listener)
    }
    // q218's within-block sorted-neighborhood ER blocking: candidates must
    // be exactly w·(rows − open block tails) — LINEAR in rows, flat wall
    // per row, regardless of how big a (brand, type) block grows (the old
    // exhaustive within-block form was quadratic in block size). Fixture:
    // 600 blocks of equal size, so block size grows 16× across the sweep
    // while candidates/row stays pinned at ≈ w.
    if (want("snm")) for (n <- Seq(250000L, 1000000L, 4000000L)) {
      import org.apache.spark.sql.expressions.Window
      val w = 8
      val parts = spark.range(n).select(col("id").as("pk"),
        concat(lit("name"), lpad(pmod(xxhash64(col("id")), lit(100000L))
          .cast("string"), 6, "0")).as("name"),
        pmod(xxhash64(col("id"), lit(1)), lit(600L)).as("blk")).persist()
      parts.count()
      val ranked = parts.withColumn("rn", row_number().over(
        Window.partitionBy("blk").orderBy("name", "pk")))
      val a = ranked.select(col("pk").as("id_a"), col("name").as("na"),
        col("blk").as("ba"), col("rn"))
      val b = ranked.select(col("pk").as("id_b"), col("name").as("nb"),
        col("blk").as("bb"), col("rn").as("rn_b"))
      val (cands, t) = time {
        a.withColumn("off", explode(array((1 to w).map(i => lit(i)): _*)))
          .withColumn("rn_tgt", col("rn") + col("off"))
          .join(b, col("ba") === col("bb") && col("rn_tgt") === col("rn_b"))
          .count()
      }
      println(f"SCALE snm n=$n%8d  block_rows=${n / 600}%7d  cand=${t}%6.1f s  pairs=$cands (${cands.toDouble / n}%4.2f/row, w=$w)")
      parts.unpersist()
    }
    // boilerplate scrub: 4× docs per step, every doc = a shared 10-token
    // boilerplate prefix + 40 unique tokens. The boilerplate gram set stays
    // O(1), covered positions are exactly the 10 prefix tokens per doc
    // (windows straddling into unique text appear in one doc only), so both
    // the covered frame and the anti join grow linearly with rows — wall
    // should track doc count, never doc².
    if (want("scrub")) for (n <- Seq(50000L, 200000L, 800000L)) {
      val wpd = 40
      val docs = spark.range(n).select(col("id").as("doc_id"),
        concat(lit("b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 "),
          array_join(transform(sequence(lit(0), lit(wpd - 1)),
            i => concat(lit("u"), pmod(xxhash64(col("id"), i), lit(1000000000L)),
              lit("x"), col("id"))), " ")).as("text")).persist()
      docs.count()
      // best-of-2 in one JVM: single-shot walls on the big step swing 2×
      // with GC/JIT warmup, drowning the scaling signal
      val runs = (1 to 2).map { _ =>
        time {
          val out = graft.llm.Dedup.scrubBoilerplate(docs, "doc_id", "text",
            n = 3, minDocs = 3)
          val r = out.agg(count(lit(1)), sum("n_kept")).head()
          (r.getLong(0), r.getLong(1))
        }
      }
      val ((nDocs, kept), t) = runs.minBy(_._2)
      require(nDocs == n && kept == n * wpd,
        s"scrub probe mismatch: docs=$nDocs kept=$kept (want $n / ${n * wpd})")
      println(f"SCALE scrub docs=$n%7d tokens=${n * (wpd + 10)}%9d  scrub=${t}%6.1f s (kept=$kept)")
      docs.unpersist()
    }
    // substring-removal dedup (Lee et al. ExactSubstr, q293): 4× docs per
    // step, every doc = one shared 15-token duplicated block + 40 unique
    // tokens. The duplicate gram set stays O(1) (only the pure-block window
    // repeats; straddling windows contain doc-unique tokens), covered
    // positions are exactly the 15 block tokens per doc, so the gram count,
    // the semi join, the (doc,pos) anti join, and the rebuild all grow
    // linearly with rows — wall should track corpus tokens, never tokens².
    if (want("scrub_dupspans")) for (n <- Seq(50000L, 200000L, 800000L)) {
      val wpd = 40
      val docs = spark.range(n).select(col("id").as("doc_id"),
        concat(lit((1 to 15).map(i => s"d$i").mkString("", " ", " ")),
          array_join(transform(sequence(lit(0), lit(wpd - 1)),
            i => concat(lit("u"), pmod(xxhash64(col("id"), i), lit(1000000000L)),
              lit("x"), col("id"))), " ")).as("text")).persist()
      docs.count()
      val runs = (1 to 2).map { _ =>
        time {
          val out = graft.llm.Dedup.scrubDuplicateSpans(docs, "doc_id", "text",
            n = 15, minCount = 2)
          val r = out.agg(count(lit(1)), sum("n_kept")).head()
          (r.getLong(0), r.getLong(1))
        }
      }
      val ((nDocs, kept), t) = runs.minBy(_._2)
      require(nDocs == n && kept == n * wpd,
        s"scrub_dupspans probe mismatch: docs=$nDocs kept=$kept (want $n / ${n * wpd})")
      println(f"SCALE scrub_dupspans docs=$n%7d tokens=${n * (wpd + 15)}%9d  scrub=${t}%6.1f s (kept=$kept)")
      docs.unpersist()
    }
    // ── suite mode: every operator family at 1×/4×/16× synthetic scale,
    // with an automatic superlinearity flag ────────────────────────────
    // Per-family bespoke probes above each check one documented shape; this
    // converts the idea into a standing property: each family runs at
    // 1×/4×/16×, and the 4×→16× wall ratio (where fixed overhead matters
    // least) must stay ≤ 4 × slack for the linear families this suite
    // carries. The round-10 q293 incident — a string-materializing rewrite
    // that read fine at small n and went GC-bound superlinear at 800k docs
    // — is exactly the class this catches systematically. Emits one table
    // row per family; any FLAG row fails the run (exit 1) so the suite can
    // gate a round. Run: sbt "runMain graft.tools.ScaleProbe suite"
    if (want("suite")) {
      val slack = 1.7 // shared-machine jitter + residual fixed overhead
      val floorS = 0.8 // below this, walls are all overhead — not a signal
      case class Probe(name: String, base: Long,
          mk: Long => DataFrame, op: DataFrame => Long)
      def edgesFor(n: Long): DataFrame = graph(spark, n, n * 2)
      val probes = Seq(
        Probe("exact_dedup", 50000,
          n => corpus(spark, n.toInt),
          df => graft.llm.Dedup.exact(df, Seq("text"), "doc_id").count()),
        Probe("minhash_lsh", 5000,
          n => corpus(spark, n.toInt),
          df => graft.llm.Dedup.nearDuplicates(df, "doc_id", "text",
            threshold = 0.8, bands = 16, rowsPerBand = 2).count()),
        Probe("simhash", 5000,
          n => corpus(spark, n.toInt),
          df => graft.llm.Dedup.simhashPairs(df, "doc_id", "text",
            maxDist = 3).count()),
        Probe("dupspan_scrub", 12500,
          n => corpus(spark, n.toInt),
          df => graft.llm.Dedup.scrubDuplicateSpans(df, "doc_id", "text",
            n = 15, minCount = 2).agg(sum("n_kept")).head().getLong(0)),
        Probe("boilerplate_scrub", 12500,
          n => corpus(spark, n.toInt),
          df => graft.llm.Dedup.scrubBoilerplate(df, "doc_id", "text",
            n = 3, minDocs = 3).count()),
        Probe("tfidf", 12500,
          n => corpus(spark, n.toInt),
          df => graft.llm.Retrieval.tfidfTopTerms(df, "doc_id", "text",
            k = 5).count()),
        Probe("cc", 50000, edgesFor,
          df => graft.llm.Dedup.connectedComponents(df)
            .agg(countDistinct(col("cluster_id"))).head().getLong(0)),
        Probe("lpa", 50000,
          n => { val g = edgesFor(n)
            g.select(col("a").as("s"), col("b").as("t"))
              .unionAll(g.select(col("b").as("s"), col("a").as("t"))) },
          df => graft.operators.Graph.labelPropagation(df, "s", "t", iters = 3)
            .agg(countDistinct(col("lbl"))).head().getLong(0)),
        Probe("bfs", 50000, edgesFor,
          df => graft.operators.Graph.bfsDistances(df, "a", "b",
            source = 0L, maxDepth = 8).count()),
        Probe("pagerank", 31250, edgesFor,
          df => graft.operators.Graph.pageRank(df, "a", "b", iters = 3)
            .count()),
        Probe("ivf_assign", 12500,
          n => embeddings(spark, n.toInt, 64),
          df => {
            // fixed 32-centroid codebook from the frame's own head: the
            // probed stage is the linear full-corpus assignment scan
            val cents = df.orderBy("vec_id").limit(32).collect()
              .map(_.getSeq[Float](1).map(_.toDouble).toArray)
            graft.llm.Similarity.assignClusters(df, "vec_id", "embedding",
              cents).groupBy("cid").count().count()
          }),
        Probe("asof_join", 100000,
          n => spark.range(n).select(
            pmod(col("id"), lit(1000)).as("k"),
            pmod(xxhash64(col("id")), lit(1000000L)).as("t"),
            col("id").as("v")),
          df => graft.operators.Joins.asofJoin(
            df.select(col("k"), col("t"), col("v")),
            df.select(col("k"), (col("t") + 1).as("t"),
              col("v").as("rv")),
            Seq("k"), "t", "t", Seq("rv"), how = "left").count()),
        Probe("hashagg_join", 1000000,
          n => spark.range(n).select(
            pmod(xxhash64(col("id")), lit(10000)).as("k"),
            (col("id") % 97).cast("double").as("v")),
          df => {
            val dim = spark.range(10000).select(col("id").as("k"),
              concat(lit("g"), col("id") % 8).as("grp"))
            df.join(broadcast(dim), "k").groupBy("grp")
              .agg(sum("v"), count(lit(1))).count()
          }),
        Probe("window_lag", 250000,
          n => spark.range(n).select(
            pmod(xxhash64(col("id")), lit(5000)).as("u"),
            col("id").as("t"),
            (col("id") % 97).cast("double").as("v")),
          df => {
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy("u").orderBy("t")
            df.withColumn("d", col("v") - lag("v", 1).over(w))
              .agg(count("d")).head().getLong(0)
          }),
        Probe("ngram_count", 25000,
          n => corpus(spark, n.toInt),
          df => df.select(explode(graft.functions.Registry.wordShingles(
              graft.llm.TextFns.portableTokens(col("text")), 2)).as("g"))
            .groupBy("g").agg(count(lit(1)))
            .agg(count(lit(1))).head().getLong(0)),
        // incremental-state families: 3 fixed arrival batches over a
        // growing corpus — per-batch work scans the prior batches' state,
        // so TOTAL wall is O(B·n) with B fixed = linear in n. (Timing
        // includes the staging writes + streaming machinery — the point is
        // the growth shape, not the constant.)
        Probe("inc_neardup", 15000,
          n => corpus(spark, n.toInt),
          df => {
            val work = java.nio.file.Files
              .createTempDirectory("graft_probe_incnd").toString
            val enrich = (bt: DataFrame) => bt.select(col("doc_id"),
              col("source"), graft.llm.Dedup.minhashSignature(col("text"),
                numHashes = 32).as("sig"))
            val src = df.withColumn("source", lit("s"))
              .select("doc_id", "source", "text")
            (0 to 2).foreach { k =>
              // one part file per arrival: the file source's
              // maxFilesPerTrigger=1 makes every FILE a micro-batch, so an
              // un-coalesced 32-file stage dir would become 32 batches
              src.filter(pmod(col("doc_id"), lit(3)) === k).coalesce(1)
                .write.parquet(s"$work/src/b$k")
              new java.io.File(s"$work/src/b$k").listFiles()
                .foreach(_.setLastModified(1000000000000L + k * 60000L))
            }
            graft.streaming.Incremental.maintainNearDup(spark,
              s"$work/src/*", s"$work/state", s"$work/ck", src.schema, enrich)
            spark.read.parquet(s"$work/state/decisions")
              .agg(sum("kept")).head().getLong(0)
          }),
        Probe("inc_spans", 15000,
          n => corpus(spark, n.toInt),
          df => {
            val work = java.nio.file.Files
              .createTempDirectory("graft_probe_incspan").toString
            val src = df.withColumn("source", lit("s"))
              .select("doc_id", "source", "text")
            (0 to 2).foreach { k =>
              src.filter(pmod(col("doc_id"), lit(3)) === k).coalesce(1)
                .write.parquet(s"$work/src/b$k")
            }
            graft.streaming.Incremental.maintainSpans(spark,
              s"$work/src/*", s"$work/state", s"$work/ck", src.schema)
            graft.streaming.Incremental.spanVerdicts(spark, s"$work/state")
              .agg(sum("ok_span")).head().getLong(0)
          }),
        Probe("inc_curation", 50000,
          n => corpus(spark, n.toInt),
          df => {
            val work = java.nio.file.Files
              .createTempDirectory("graft_probe_inccur").toString
            // minimal enrich: the probe measures the stateful merge, not
            // the (separately probed) stage expressions
            val enrich = (bt: DataFrame) => bt.select(col("doc_id"),
              lit("s").as("source"), md5(col("text")).as("norm_key"),
              lit(10L).as("n_words"),
              (col("doc_id") % 2).cast("long").as("ok_rules"),
              (col("doc_id") % 3 === 0).cast("long").as("ok_clf"))
            val src = df.withColumn("source", lit("s"))
              .select("doc_id", "source", "text")
            (0 to 2).foreach { k =>
              src.filter(pmod(col("doc_id"), lit(3)) === k).coalesce(1)
                .write.parquet(s"$work/src/b$k")
            }
            graft.streaming.Incremental.maintainCuration(spark,
              s"$work/src/*", s"$work/state", s"$work/delta", s"$work/ck",
              src.schema, enrich)
            graft.streaming.Incremental.curationReport(spark, s"$work/delta")
              .agg(sum("after_dedup")).head().getLong(0)
          }),
        Probe("inc_embdup", 5000,
          n => spark.range(n).select(col("id").as("doc_id"), expr(
            "transform(sequence(0, 63), i -> pmod(xxhash64(id, i), 1001) - 500)")
            .as("qv")),
          df => {
            // bucket count GROWS with the corpus (nBits ∝ log2 n — the IVF
            // nlist rule), holding per-bucket density ~64 constant: total
            // bucket-confined pairs stay ∝ n, so the family is linear
            val n = df.count()
            // capped at the operator's 16-bit bucket space: past the cap
            // (n ≥ 64·2^16) density grows again — at that corpus size a
            // real deployment widens the bucket id, not this probe
            val nBits = math.min(16, math.max(4,
              math.ceil(math.log(n / 64.0) / math.log(2)).toInt))
            val work = java.nio.file.Files
              .createTempDirectory("graft_probe_incemb").toString
            (0 to 2).foreach { k =>
              graft.streaming.Incremental.applyEmbDupBatch(spark,
                df.filter(pmod(col("doc_id"), lit(3)) === k), k.toLong,
                s"$work/state", nBits = nBits)
            }
            spark.read.parquet(s"$work/state/decisions")
              .agg(sum("kept")).head().getLong(0)
          }),
        Probe("inc_join", 200000,
          n => {
            val dims = spark.range(math.max(n / 10, 1)).select(
              col("id").as("okey"), lit("o").as("side"),
              lit(null).cast("long").as("lv"),
              concat(lit("p"), (col("id") % 5).cast("string")).as("ov"))
            val facts = spark.range(n).select(
              pmod(xxhash64(col("id")), lit(math.max(n / 10, 1))).as("okey"),
              lit("l").as("side"), col("id").as("lv"),
              lit(null).cast("string").as("ov"))
            facts.unionByName(dims)
          },
          df => {
            val work = java.nio.file.Files
              .createTempDirectory("graft_probe_incjoin").toString
            (0 to 2).foreach { k =>
              graft.streaming.Incremental.applyJoinBatch(spark,
                df.filter(pmod(xxhash64(col("side"), col("lv"),
                  col("okey")), lit(3)) === k),
                k.toLong, s"$work/state", "okey", Seq("lv"), Seq("ov"))
            }
            graft.streaming.Incremental.joinMv(spark, s"$work/state", "okey")
              .count()
          }),
        Probe("inc_sessions", 200000,
          n => spark.range(n).select(
            pmod(xxhash64(col("id"), lit(7)), lit(math.max(n / 50, 1)))
              .as("user_id"),
            (pmod(xxhash64(col("id"), lit(11)), lit(86400L)) * 1000000L)
              .as("ts_us")),
          df => {
            val work = java.nio.file.Files
              .createTempDirectory("graft_probe_incsess").toString
            (0 to 2).foreach { k =>
              graft.streaming.Incremental.applySessionBatch(spark,
                df.filter(
                  pmod(xxhash64(col("user_id"), col("ts_us")), lit(3)) === k),
                k.toLong, s"$work/state")
            }
            graft.streaming.Incremental.sessionTable(spark, s"$work/state")
              .count()
          }),
        Probe("inc_cdc", 200000,
          n => spark.range(n).select(
            pmod(xxhash64(col("id")), lit(math.max(n / 2, 1))).as("k"),
            col("id").as("v"),
            when(col("id") % 10 === 9, "D")
              .when(col("id") % 3 === 0, "I").otherwise("U").as("op"),
            col("id").as("seq")),
          df => {
            val work = java.nio.file.Files
              .createTempDirectory("graft_probe_inccdc").toString
            (0 to 2).foreach { k =>
              graft.streaming.Incremental.applyCdcBatch(spark,
                df.filter(pmod(col("seq"), lit(3)) === k), k.toLong,
                s"$work/state", "k")
            }
            graft.streaming.Incremental.cdcTable(spark, s"$work/state", "k")
              .count()
          }),
        Probe("inc_cc", 50000, edgesFor,
          df => {
            // per-batch cost is O(batch + |fwd|): the contracted closure
            // runs on O(batch) nodes and the forwarding table holds one
            // row per merged component, not per vertex — linear family
            val work = java.nio.file.Files
              .createTempDirectory("graft_probe_inccc").toString
            (0 to 2).foreach { k =>
              graft.streaming.Incremental.applyCcBatch(spark,
                df.filter(pmod(col("a") + col("b"), lit(3)) === k),
                k.toLong, s"$work/state")
            }
            graft.streaming.Incremental.ccLabels(spark, s"$work/state")
              .agg(countDistinct(col("cluster_id"))).head().getLong(0)
          }),
        Probe("inc_contam", 15000,
          n => corpus(spark, n.toInt),
          df => {
            val work = java.nio.file.Files
              .createTempDirectory("graft_probe_contam").toString
            val src = df.select(col("doc_id"), lit("s").as("source"),
              col("text"), (col("doc_id") % 25 === 0).as("is_eval"))
            (0 to 2).foreach { k =>
              graft.streaming.Incremental.applyContamBatch(spark,
                src.filter(pmod(col("doc_id"), lit(3)) === k), k.toLong,
                s"$work/state", n = 4)
            }
            graft.streaming.Incremental.contamVerdicts(spark, s"$work/state")
              .agg(sum("n_matched")).head().getLong(0)
          }))
      // extra args past "suite" filter to named families (re-run one family
      // without the full sweep): runMain graft.tools.ScaleProbe suite inc_neardup
      val familyFilter = args.filterNot(_ == "suite").toSet
      val toRun =
        if (familyFilter.isEmpty) probes
        else probes.filter(p => familyFilter.contains(p.name))
      var flagged = List.empty[String]
      for (p <- toRun) {
        val walls = Seq(1L, 4L, 16L).map { scale =>
          val in = p.mk(p.base * scale).persist()
          in.count()
          val (_, t) = time(p.op(in))
          in.unpersist(blocking = false)
          t
        }
        val Seq(t1, t4, t16) = walls
        val ratio = t16 / math.max(t4, floorS)
        val flag = ratio > 4 * slack
        if (flag) flagged ::= p.name
        println(f"SCALE suite family=${p.name}%-18s base=${p.base}%8d  " +
          f"t1=${t1}%6.1f s  t4=${t4}%6.1f s  t16=${t16}%6.1f s  " +
          f"ratio16/4=${ratio}%5.2f  ${if (flag) "FLAG(superlinear)" else "ok"}")
      }
      if (flagged.nonEmpty) {
        System.err.println(s"SCALE suite FLAGGED: ${flagged.mkString(", ")}")
        spark.stop()
        sys.exit(1)
      }
    }
    // batch-count probe (round-11 verdict ask): FIXED corpus, B=3 vs B=12
    // arrival batches through the incremental near-dup screen — per-batch
    // wall must stay flat as history accumulates (the stored-posting index
    // is read pruned per batch; the old form re-derived buckets over all
    // history, so batch 12 cost ~11× batch 1). Timing uses the direct
    // batch-mode operator (no stream startup noise); the flag compares the
    // mean of the LAST three batches (max history) against the FIRST three
    // (≈no history) at B=12, with an additive floor for fixed per-batch
    // overhead (temp-dir writes, job setup).
    if (want("batches")) {
      val n = 24000
      val docs = corpus(spark, n).withColumn("source", lit("s")).persist()
      docs.count()
      var flaggedB = false
      for (bCount <- Seq(3, 12)) {
        val work = java.nio.file.Files
          .createTempDirectory("graft_probe_batches").toString
        val walls = (0 until bCount).map { k =>
          val bt = docs.filter(pmod(col("doc_id"), lit(bCount)) === k)
            .select(col("doc_id"), col("source"),
              graft.llm.Dedup.minhashSignature(col("text"),
                numHashes = 32).as("sig"))
          val (_, t) = time(graft.streaming.Incremental.applyNearDupBatch(
            spark, bt, k.toLong, s"$work/state", bands = 16, rowsPerBand = 2,
            thresholdPct = 70, autoCompactMinLive = 0)) // measures the
            // uncompacted regime (auto_compact probes the triggered one)
          t
        }
        val head3 = walls.take(3).sum / 3
        val tail3 = walls.takeRight(3).sum / 3
        val flag = bCount == 12 && tail3 > head3 * 2.0 + 0.3
        if (flag) flaggedB = true
        println(f"SCALE batches B=$bCount%2d corpus=$n  " +
          f"per-batch=[${walls.map(w => f"$w%.2f").mkString(",")}]  " +
          f"head3=${head3}%5.2f s  tail3=${tail3}%5.2f s  " +
          f"${if (flag) "FLAG(per-batch wall grows with history)" else "ok"}")
      }
      docs.unpersist(blocking = false)
      if (flaggedB) { spark.stop(); sys.exit(1) }
    }
    // adversarial skew probe (round-12 verdict ask): a third of the corpus
    // is ONE identical boilerplate doc (the CommonCrawl empty-page regime),
    // so every band bucket of that text accumulates a third of all
    // postings. The
    // CAPPED incremental screen must stay flat per batch: the bucket dies
    // at its cap-crossing batch, its row groups are skipped from the
    // pruned read (bucket-sorted files + not-equal pushdown), and no
    // candidates are generated. The UNCAPPED form is run beside it to
    // demonstrate the quadratic blowup the cap removes (each batch pays
    // |batch ∩ bucket| × |history ∩ bucket| candidate pairs) — printed for
    // the record; the GATE is on the capped run only.
    if (want("inc_skew")) {
      val n = 24000
      val clean = corpus(spark, n).withColumn("source", lit("s"))
      val boiler = spark.range(n / 2).select(
        (col("id") + 2000000000L).as("doc_id"),
        lit("the quick brown fox jumps over the lazy dog again and again")
          .as("text"), lit("s").as("source"))
      val docs = clean.unionByName(boiler).persist()
      docs.count()
      val bCount = 12
      var flaggedS = false
      val results = for (cap <- Seq(1000, Int.MaxValue)) yield {
        val work = java.nio.file.Files
          .createTempDirectory("graft_probe_skew").toString
        val walls = (0 until bCount).map { k =>
          val bt = docs.filter(pmod(col("doc_id"), lit(bCount)) === k)
            .select(col("doc_id"), col("source"),
              graft.llm.Dedup.minhashSignature(col("text"),
                numHashes = 32).as("sig"))
          val (_, t) = time(graft.streaming.Incremental.applyNearDupBatch(
            spark, bt, k.toLong, s"$work/state", bands = 16, rowsPerBand = 2,
            thresholdPct = 70, maxBucket = cap, autoCompactMinLive = 0))
          t
        }
        val head3 = walls.take(3).sum / 3
        val tail3 = walls.takeRight(3).sum / 3
        val capped = cap != Int.MaxValue
        val dead = if (capped)
          graft.streaming.Incremental.ndDeadBuckets(spark, s"$work/state")
            .count()
        else 0L
        val flag = capped && (tail3 > head3 * 2.0 + 0.3 || dead == 0L)
        if (flag) flaggedS = true
        println(f"SCALE inc_skew cap=${if (capped) cap.toString else "off"}%-10s " +
          f"corpus=$n+${n / 2} boiler  " +
          f"per-batch=[${walls.map(w => f"$w%.2f").mkString(",")}]  " +
          f"head3=${head3}%5.2f s  tail3=${tail3}%5.2f s  dead=$dead  " +
          f"${if (flag) "FLAG(capped screen grows or never capped)" else "ok"}")
        (capped, tail3)
      }
      val cappedTail = results.find(_._1).get._2
      val uncappedTail = results.find(!_._1).get._2
      println(f"SCALE inc_skew uncapped/capped tail3 ratio = " +
        f"${uncappedTail / math.max(cappedTail, 0.05)}%5.1f (demonstration)")
      docs.unpersist(blocking = false)
      if (flaggedS) { spark.stop(); sys.exit(1) }
    }
    // AUTO-COMPACTION cadence probe (round-13 verdict Next #4): B=24 with
    // NO manual compact() anywhere — the apply-entry trigger alone must
    // keep (a) the per-batch wall flat (median of the last 6 vs first 6:
    // medians, because a fold batch is a legitimate spike the amortized
    // claim allows), (b) live per-batch partitions BOUNDED (folds fire
    // geometrically, so the live set never exceeds ~the base's batch
    // span), and (c) the answers bit-identical to an opted-out run (a
    // fold changes layout, never results). Spans rides along to prove its
    // whole-shard-rewrite surfaces never accumulate per-batch partitions
    // in the first place — nothing to trigger, file count flat by
    // construction.
    if (want("auto_compact")) {
      val n = 24000
      val bCount = 24
      def liveBatchDirs(dir: String): Int =
        StateStore.batchDirs(dir).map(_._1).distinct.size
      def med(xs: Seq[Double]): Double = {
        val s = xs.sorted; s(s.size / 2)
      }
      var flaggedAc = false
      def gate(fam: String, walls: Seq[Double], liveAfter: Int,
          answersEqual: Boolean, folded: Boolean): Unit = {
        val headM = med(walls.take(6)); val tailM = med(walls.takeRight(6))
        val flag = tailM > headM * 2.0 + 0.3 || liveAfter > bCount / 2 ||
          !answersEqual || !folded
        if (flag) flaggedAc = true
        println(f"SCALE auto_compact $fam%-8s B=$bCount  " +
          f"per-batch=[${walls.map(w => f"$w%.2f").mkString(",")}]  " +
          f"headMed=${headM}%5.2f s  tailMed=${tailM}%5.2f s  " +
          f"liveAfter=$liveAfter  folded=$folded  equal=$answersEqual  " +
          f"${if (flag) "FLAG(auto-compaction cadence broken)" else "ok"}")
      }
      val docs = corpus(spark, n).withColumn("source", lit("s")).persist()
      docs.count()
      // near-dup: triggered run vs opted-out run, decisions must match
      locally {
        def run(minLive: Int): (Seq[Double], String) = {
          val work = java.nio.file.Files
            .createTempDirectory("graft_probe_ac_nd").toString
          val walls = (0 until bCount).map { k =>
            val bt = docs.filter(pmod(col("doc_id"), lit(bCount)) === k)
              .select(col("doc_id"), col("source"),
                graft.llm.Dedup.minhashSignature(col("text"),
                  numHashes = 32).as("sig"))
            time(graft.streaming.Incremental.applyNearDupBatch(
              spark, bt, k.toLong, s"$work/state", bands = 16,
              rowsPerBand = 2, thresholdPct = 70,
              autoCompactMinLive = minLive))._2
          }
          (walls.map(_.toDouble), s"$work/state")
        }
        val (wallsOn, stOn) = run(8)
        val (_, stOff) = run(0)
        def dec(st: String) = graft.streaming.Incremental
          .ndDecisions(spark, st)
          .select("doc_id", "kept").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        gate("neardup", wallsOn, liveBatchDirs(s"$stOn/idx"),
          dec(stOn) == dec(stOff),
          StateStore.readMarker(stOn, StateStore.HighWater) >= 0L)
      }
      // embedding near-dup: same differential
      locally {
        val emb = spark.range(n).select(col("id").as("doc_id"), expr(
          "transform(sequence(0, 63), i -> pmod(xxhash64(id, i), 1001) - 500)")
          .as("qv")).persist()
        emb.count()
        def run(minLive: Int): (Seq[Double], String) = {
          val work = java.nio.file.Files
            .createTempDirectory("graft_probe_ac_emb").toString
          val walls = (0 until bCount).map { k =>
            time(graft.streaming.Incremental.applyEmbDupBatch(spark,
              emb.filter(pmod(col("doc_id"), lit(bCount)) === k), k.toLong,
              s"$work/state", nBits = 8,
              autoCompactMinLive = minLive))._2
          }
          (walls.map(_.toDouble), s"$work/state")
        }
        val (wallsOn, stOn) = run(8)
        val (_, stOff) = run(0)
        def dec(st: String) = graft.streaming.Incremental
          .embDecisions(spark, st)
          .select("doc_id", "kept").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        gate("embdup", wallsOn, liveBatchDirs(s"$stOn/idx"),
          dec(stOn) == dec(stOff),
          StateStore.readMarker(stOn, StateStore.HighWater) >= 0L)
        emb.unpersist(blocking = false)
      }
      // decontamination tg: same differential
      locally {
        val src = docs.select(col("doc_id"), col("source"), col("text"),
          (col("doc_id") % 25 === 0).as("is_eval")).persist()
        src.count()
        def run(minLive: Int): (Seq[Double], String) = {
          val work = java.nio.file.Files
            .createTempDirectory("graft_probe_ac_ct").toString
          val walls = (0 until bCount).map { k =>
            time(graft.streaming.Incremental.applyContamBatch(spark,
              src.filter(pmod(col("doc_id"), lit(bCount)) === k), k.toLong,
              s"$work/state", n = 4,
              autoCompactMinLive = minLive))._2
          }
          (walls.map(_.toDouble), s"$work/state")
        }
        val (wallsOn, stOn) = run(8)
        val (_, stOff) = run(0)
        def ver(st: String) = graft.streaming.Incremental
          .contamVerdicts(spark, st)
          .select("doc_id", "n_matched").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        gate("contam", wallsOn, liveBatchDirs(s"$stOn/tg"),
          ver(stOn) == ver(stOff),
          StateStore.readMarker(stOn, StateStore.HighWater) >= 0L)
        src.unpersist(blocking = false)
      }
      // spans: whole-shard-rewrite surfaces — per-batch partitions never
      // accumulate and the parquet file count stays ~bounded by the shard
      // counts; gated to keep it that way
      locally {
        val work = java.nio.file.Files
          .createTempDirectory("graft_probe_ac_sp").toString
        val walls = (0 until bCount).map { k =>
          time(graft.streaming.Incremental.applySpanBatch(spark,
            docs.filter(pmod(col("doc_id"), lit(bCount)) === k)
              .select("doc_id", "source", "text"),
            k.toLong, s"$work/state", n = 15))._2
        }
        val files = StateStore.dataFiles(s"$work/state").size
        val liveAfter = liveBatchDirs(s"$work/state")
        // 16 gshards + 16 dshards, ≤ a few files each after 24 rewrites
        gate("spans", walls.map(_.toDouble), liveAfter,
          answersEqual = files <= 96, folded = liveAfter == 0)
      }
      docs.unpersist(blocking = false)
      if (flaggedAc) { spark.stop(); sys.exit(1) }
    }
    // merge-heavy CC probe (round-12 verdict watch item): every batch
    // merges 20k FRESH vertex pairs, so the forwarding table grows by 20k
    // roots per batch and, untriggered, is rewritten whole through its
    // writer every batch — linear degradation. With the auto-fold trigger
    // the snapshot is folded into lbl whenever it crosses the bound, so
    // (a) the observed |fwd| stays ≤ trigger + one batch's merges, and
    // (b) per-batch wall stays flat. Both are gated; the untriggered run
    // is printed for the record.
    if (want("cc_merge")) {
      val bCount = 12
      val perBatch = 20000L
      var flaggedC = false
      val results = for (trigger <- Seq(30000L, Long.MaxValue)) yield {
        val work = java.nio.file.Files
          .createTempDirectory("graft_probe_ccmerge").toString
        var maxFwd = 0L
        val walls = (0 until bCount).map { k =>
          // batch k: pair edges over its own fresh vertex block
          val lo = k * 2 * perBatch
          val ed = spark.range(perBatch).select(
            (col("id") * 2 + lo).as("a"), (col("id") * 2 + lo + 1).as("b"))
          val (_, t) = time(graft.streaming.Incremental.applyCcBatch(
            spark, ed, k.toLong, s"$work/state", fwdFoldMin = trigger))
          StateStore.batchDirs(s"$work/state/fwd").maxByOption(_._1)
            .foreach(d => maxFwd =
              math.max(maxFwd, spark.read.parquet(d._2).count()))
          t
        }
        val head3 = walls.take(3).sum / 3
        val tail3 = walls.takeRight(3).sum / 3
        val triggered = trigger != Long.MaxValue
        // the auto-fold fires at batch start when |fwd| > max(trigger,
        // |lbl|/8), so post-batch |fwd| is bounded by that plus one
        // batch's merges (lbl grows to 2·perBatch·bCount vertices here)
        val bound = math.max(trigger, 2L * perBatch * bCount / 8) + perBatch
        val flag = triggered &&
          (tail3 > head3 * 2.0 + 0.3 || maxFwd > bound)
        if (flag) flaggedC = true
        println(f"SCALE cc_merge trigger=${if (triggered) trigger.toString else "off"}%-10s " +
          f"merges/batch=$perBatch  " +
          f"per-batch=[${walls.map(w => f"$w%.2f").mkString(",")}]  " +
          f"head3=${head3}%5.2f s  tail3=${tail3}%5.2f s  maxFwd=$maxFwd  " +
          f"${if (flag) "FLAG(fwd unbounded or wall grows)" else "ok"}")
        (triggered, maxFwd)
      }
      val unboundedFwd = results.find(!_._1).get._2
      println(s"SCALE cc_merge untriggered maxFwd = $unboundedFwd " +
        s"(vs bounded ${results.find(_._1).get._2})")
      if (flaggedC) { spark.stop(); sys.exit(1) }
    }
    // re-shard pruning probe (round-12 verdict ask): a big CDC table at
    // nShards=4 makes every small batch read ~the whole table (4/4 shards
    // touched); after reshardCdc to 64 the same batch's partition-pruned
    // state read opens only its keys' shards. The gate is on bytes READ
    // per batch (stage input metrics): post-reshard must be ≤ 1/4 of
    // pre-reshard for a 16× shard growth (conservative — the ideal is
    // ~1/16, but small batches still pay footers).
    if (want("reshard")) {
      val inputBytes = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          inputBytes.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.bytesRead)
      }
      spark.sparkContext.addSparkListener(listener)
      val work = java.nio.file.Files
        .createTempDirectory("graft_probe_reshard").toString
      val state = s"$work/cdc"
      val big = spark.range(400000).select(col("id").as("k"),
        lit("I").as("op"), lit(0L).as("seq"),
        concat(lit("payload-"), col("id")).as("v"))
      graft.streaming.Incremental.applyCdcBatch(spark, big, 0L, state, "k",
        nShards = 4)
      // keys all ≡ 7 (mod 64): one shard at nShards=64, one at nShards=4 —
      // the localized-batch regime where shard growth is supposed to bite
      def smallBatch(b: Long) = spark.range(64).select(
        (col("id") * 640 + 7).as("k"), lit("U").as("op"), lit(b).as("seq"),
        lit("upd").as("v"))
      def measuredApply(b: Long, n: Int): Long = {
        inputBytes.set(0)
        graft.streaming.Incremental.applyCdcBatch(spark, smallBatch(b), b,
          state, "k", nShards = n)
        // drain barrier: a fixed sleep undercounts on a slow listener bus
        if (!org.apache.spark.sql.graftbridge.ColumnBridge
          .waitListenerBusEmpty(spark.sparkContext, 30000))
          System.err.println("[probe] WARN listener bus did not drain in 30s")
        inputBytes.get
      }
      val preBytes = measuredApply(1L, 4)
      graft.streaming.Incremental.reshardCdc(spark, state, newNShards = 64)
      val postBytes = measuredApply(2L, 64)
      spark.sparkContext.removeSparkListener(listener)
      val ratio = postBytes.toDouble / math.max(1L, preBytes)
      val flag = ratio > 0.25
      println(f"SCALE reshard cdc 4→64 shards  pre=${preBytes / 1048576.0}%7.2f MiB/batch  " +
        f"post=${postBytes / 1048576.0}%7.2f MiB/batch  ratio=$ratio%5.3f  " +
        f"${if (flag) "FLAG(reshard did not prune)" else "ok"}")
      if (flag) { spark.stop(); sys.exit(1) }
    }
    spark.stop()
  }
}
