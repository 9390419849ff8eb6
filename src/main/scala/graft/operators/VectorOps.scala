package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vector similarity search over `array<float>` embedding columns.
  *
  * Determinism: dot products accumulate on a fixed-point grid ([[dotFixed]]:
  * each product floored to 1e-13 and summed as a long — exact, associative,
  * no float-order sensitivity), then convert to double for the final ratio.
  * This makes results bit-identical across engines and partitionings, which
  * the DuckDB-oracle hash check requires (SURVEY §7.5.3) — and is also the
  * right call on a real cluster, where partition order is arbitrary.
  *
  * Scale notes: brute-force top-k broadcasts the (small) query set and scans
  * the corpus once — linear, and the per-group top-k uses a bounded heap via
  * window rank over a repartitioned key. The LSH path buckets by
  * random-hyperplane signs so candidate generation is linear and the final
  * exact rank runs only within buckets.
  */
object VectorOps {

  private val Dec = DecimalType(38, 18)

  /** Fixed-point dot product: each double product floored onto a 1e-13 grid
    * and summed as longs. Exact and associative (partition-order immune),
    * identically computable in ANSI SQL
    * (FLOOR/BIGINT), but runs on primitive long adds inside codegen instead
    * of boxed decimals. 64 terms × |p|≤~1e13 stays far below 2^53, so the
    * final long→double conversion is exact in both engines. */
  def dotFixed(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b,
        (x, y) => floor(x.cast(DoubleType) * y.cast(DoubleType) * lit(1e13))),
      lit(0L), (acc, x) => acc + x)
      .cast(DoubleType) / lit(1e13)

  /** Brute-force cosine top-k: for every query vector (broadcast), rank the
    * corpus by cosine desc (tie-break id asc) and keep the top k. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    // norms are precomputed per SIDE, not per pair: |Q|+|C| aggregates
    // instead of 2·|Q|·|C| — the dot product is the only per-pair work
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qnorm", sqrt(dotFixed(col("qv"), col("qv")))))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .withColumn("nnorm", sqrt(dotFixed(col("nv"), col("nv"))))
    val scored = c.join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", round(
        dotFixed(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** RECIPROCAL-RANK FUSION (Cormack/Clarke/Büttcher, SIGIR 2009) — the
    * hybrid-search combiner every retrieval stack ships: two rankers'
    * per-query rankings merge by summing 1/(k₀+rank) credit, so a
    * candidate that is merely good in BOTH lists beats one that tops a
    * single list. Exact integer micro-credit `10⁹ div (k₀+rank)` keeps
    * fused scores and ordering bit-identical across engines (the tfidf
    * ppm precedent — no float rank math to drift). Inputs are
    * (query_id, neighbor_id, rank) frames; the join is inner, so callers
    * fuse over the candidates BOTH rankers scored (identical pools here —
    * dense rankings over a shared id space). The carried-through input
    * ranks are named by `rankAName`/`rankBName` — the helper is
    * ranker-agnostic; callers pick output names matching their rankers.
    * For TRUNCATED top-N rankings use [[rrfFuseUnion]] (the declared
    * q_hybrid_rrf shape); this inner-pool form is the dense-rankings
    * ground truth (Queries.qHybridRrfDense, HybridRecallSpec).
    * Per-query cost is the two input rankings' size — the fusion itself
    * is one equi-join + one window, nothing quadratic. */
  def rrfFuse(a: DataFrame, b: DataFrame, k0: Int = 60, topK: Int = 10,
              rankAName: String = "rank_a",
              rankBName: String = "rank_b"): DataFrame = {
    val aa = a.select(col("query_id"), col("neighbor_id"),
      col("rank").as(rankAName))
    val bb = b.select(col("query_id"), col("neighbor_id"),
      col("rank").as(rankBName))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_micro").desc, col("neighbor_id").asc)
    aa.join(bb, Seq("query_id", "neighbor_id"))
      .withColumn("rrf_micro",
        expr(s"1000000000 div ($k0 + `$rankAName`) + 1000000000 div ($k0 + `$rankBName`)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col(rankAName),
        col(rankBName), col("rrf_micro"), col("rank"))
  }

  /** RRF over the UNION of two TRUNCATED rankings (full-outer fuse): the
    * production shape when each ranker contributes only its top-N — a
    * candidate absent from one list simply earns no credit from it
    * (Cormack et al. 2009 sums only over the lists containing the
    * document; [[rrfFuse]]'s inner pool is the dense-rankings special
    * case). Carried input ranks stay NULL where absent. Per-query cost is
    * the two top-N lists — queries × N rows per side, metadata scale
    * regardless of corpus size, which is exactly why hybrid search fuses
    * AFTER each ranker's own index has cut its list. */
  def rrfFuseUnion(a: DataFrame, b: DataFrame, k0: Int = 60, topK: Int = 10,
                   rankAName: String = "rank_a",
                   rankBName: String = "rank_b"): DataFrame = {
    val aa = a.select(col("query_id"), col("neighbor_id"),
      col("rank").as(rankAName))
    val bb = b.select(col("query_id"), col("neighbor_id"),
      col("rank").as(rankBName))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_micro").desc, col("neighbor_id").asc)
    aa.join(bb, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr(s"1000000000 div ($k0 + `$rankAName`)").cast(LongType),
          lit(0L)) +
        coalesce(expr(s"1000000000 div ($k0 + `$rankBName`)").cast(LongType),
          lit(0L)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col(rankAName),
        col(rankBName), col("rrf_micro"), col("rank"))
  }

  /** Plane count that keeps expected LSH bucket size near `targetBucket`
    * for a corpus of `corpusSize` vectors: buckets = 2^planes, so
    * planes = ⌈log2(N / target)⌉. The knob that keeps the bucket self-join
    * bounded as the corpus grows — e.g. 10⁸ vectors at target 1000 ⇒ 17
    * planes; this repo's 2×10³ fixture at target 125 ⇒ 4. */
  def planesFor(corpusSize: Long, targetBucket: Int = 1000): Int =
    math.max(1, math.ceil(
      math.log(corpusSize.toDouble / targetBucket) / math.log(2.0)).toInt)

  /** Deterministic random hyperplanes: fixed-seed PRNG, regenerated
    * identically everywhere — a few KB of literals, nothing to broadcast.
    * `seed` varies per hash table (OR-construction). */
  def planes(nPlanes: Int, dims: Int, seed: Long = 42L): Seq[Array[Float]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dims)(rng.nextFloat() - 0.5f))
  }

  /** Sign-of-projection LSH bucket id from `nPlanes` hyperplanes, computed
    * with the native codegen'd dot kernel ([[graft.plans.FloatDotProduct]]). */
  def lshBucket(vec: Column, nPlanes: Int, dims: Int, seed: Long = 42L): Column =
    planes(nPlanes, dims, seed).zipWithIndex.map { case (p, i) =>
      when(graft.plans.FloatVectorExpressions.dot(vec, typedlit(p)) >= 0,
        shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** LSH-bucketed approximate top-k with the OR-construction: `tables`
    * independent hash tables of `nPlanes` sign bits each; a corpus vector is
    * a candidate when it shares a bucket with the query in ANY table
    * (recall 1-(1-p^planes)^tables), then candidates are exact-ranked.
    * Cost is linear in `tables`; the scale path when per-query brute force
    * is too hot. Runs on the fast double kernels (per-row sequential fold —
    * deterministic, just not oracle-shared).
    *
    * `probes` > 0 adds MULTIPROBE on the QUERY side: each query also visits
    * the buckets reachable by flipping one of the first `probes` sign bits
    * — recall rises like extra hash tables would provide, but the corpus
    * index stays one entry per table (no storage blowup; the standard
    * multiprobe trade). */
  def cosineTopKLsh(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, nPlanes: Int = 8,
                    dims: Int = 64, tables: Int = 4,
                    probes: Int = 0): DataFrame = {
    import graft.plans.FloatVectorExpressions.{dot, norm}
    def withBuckets(df: DataFrame, vec: String, flips: Int): DataFrame = {
      val entries: Seq[Column] = (0 until tables).flatMap { t =>
        val base = lshBucket(col(vec), nPlanes, dims, seed = 42L + t)
        val variants = base +: (0 until math.min(flips, nPlanes)).map(i =>
          base.bitwiseXOR(lit(1L << i)))
        variants.map(v => struct(lit(t).as("table"), v.as("bucket")))
      }
      df.select(col("*"), explode(array(entries: _*)).as("__tb"))
        .withColumn("table", col("__tb.table"))
        .withColumn("bucket", col("__tb.bucket"))
        .drop("__tb")
    }
    val q = broadcast(withBuckets(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        .withColumn("qnorm", norm(col("qv"))), "qv", probes))
    // corpus side fans out before the bucket kernel (see Par) — the
    // production twin of the cosineTopKLshFixed single-task defect
    val c = withBuckets(
      Par.widen(corpus.select(col(idCol).as("neighbor_id"),
          col(vecCol).as("nv")), col("neighbor_id"))
        .withColumn("nnorm", norm(col("nv"))), "nv", 0)
    val scored = c.join(q, Seq("table", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id") // any-table OR semantics
      .withColumn("cosine", round(
        dot(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** [[cosineTopKLsh]] with every arithmetic step on the ORACLE-SHARED
    * fixed-point grid: bucket bits are the sign of `dotFixed(v, plane)`
    * (an integer-sum sign — exact in ANSI SQL), and candidate ranking is
    * the round-6 fixed-point cosine with id tie-breaks. Same buckets,
    * candidates, and top-k as the production double-kernel path except
    * where a projection sits within float-fold ulp of zero (never observed
    * on the fixtures; AnnRecallSpec still floors the production path) —
    * this variant exists so the LSH RETRIEVAL ALGORITHM itself can be
    * replayed by the DuckDB oracle, turning a spec-only recall floor into
    * a cross-engine-gated fact (q_vec_ann_recall). */
  /** Fixed-grid LSH bucket: sign bits of the integer fixed-point
    * projection sums against the shared fixed-seed hyperplanes — the
    * oracle-replayable twin of [[lshBucket]]. ONE definition shared by all
    * four gated LSH kernels (topK / near-dup / A×B join / k-NN graph) so
    * the bucket encoding can never de-sync between a kernel and its
    * oracle-generator siblings. */
  private def bucketOfFixed(vec: Column, nPlanes: Int, dims: Int,
                            seed: Long): Column =
    planes(nPlanes, dims, seed).zipWithIndex.map { case (p, i) =>
      when(dotFixed(vec, typedlit(p.toSeq)) >= 0,
        shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Shared banding stage of the gated self/cross LSH kernels: explode the
    * OR-table fixed-grid buckets of an (id, v) side, then drop hot cells
    * with the windowed `COUNT(*) OVER` cap (oracle-replayable; the
    * exchange is reused by the downstream bucket join). */
  private def bandedFixed(side: DataFrame, nPlanes: Int, dims: Int,
                          tables: Int, maxBucket: Int): DataFrame = {
    val bd = side.select(col("id"),
      posexplode(array((0 until tables).map(t =>
        bucketOfFixed(col("v"), nPlanes, dims, 42L + t)): _*)))
      .withColumnRenamed("pos", "table")
      .withColumnRenamed("col", "bucket")
    if (maxBucket == Int.MaxValue) bd
    // explicit (table, bucket) fan-out feeds the cap window: its
    // EnsureRequirements exchange otherwise AQE-coalesces the skinny
    // banded rows to ONE task (334 ms serial window count at
    // sf0.1/local[32] — see Par). Same partitioning, so the downstream
    // bucket self-join still reuses this single exchange.
    else Par.fanOut(bd, col("table"), col("bucket"))
      .withColumn("_bn",
        count(lit(1)).over(Window.partitionBy("table", "bucket")))
      .filter(col("_bn") <= maxBucket)
      .drop("_bn")
  }

  def cosineTopKLshFixed(corpus: DataFrame, queries: DataFrame, idCol: String,
                         vecCol: String, k: Int, nPlanes: Int = 4,
                         dims: Int = 64, tables: Int = 4,
                         probes: Int = 0): DataFrame = {
    def bucketOf(vec: Column, seed: Long): Column =
      bucketOfFixed(vec, nPlanes, dims, seed)
    def withBuckets(df: DataFrame, vec: String, flips: Int): DataFrame = {
      val entries: Seq[Column] = (0 until tables).flatMap { t =>
        val base = bucketOf(col(vec), seed = 42L + t)
        val variants = base +: (0 until math.min(flips, nPlanes)).map(i =>
          base.bitwiseXOR(lit(1L << i)))
        variants.map(v => struct(lit(t).as("table"), v.as("bucket")))
      }
      df.select(col("*"), explode(array(entries: _*)).as("__tb"))
        .withColumn("table", col("__tb.table"))
        .withColumn("bucket", col("__tb.bucket"))
        .drop("__tb")
    }
    val q = broadcast(withBuckets(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        .withColumn("qnorm", sqrt(dotFixed(col("qv"), col("qv")))), "qv", probes))
    // corpus side fans out before the bucket kernel (see Par: 430 ms of
    // single-task kernel CPU at sf0.1/local[32]); the query side stays a
    // broadcast-small literal build
    val c = withBuckets(
      Par.widen(corpus.select(col(idCol).as("neighbor_id"),
          col(vecCol).as("nv")), col("neighbor_id"))
        .withColumn("nnorm", sqrt(dotFixed(col("nv"), col("nv")))), "nv", 0)
    val scored = c.join(q, Seq("table", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id") // any-table OR semantics
      .withColumn("cosine", round(
        dotFixed(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Measured recall@k of the [[cosineTopKLshFixed]] retrieval against the
    * exact fixed-point ranking ([[cosineTopK]]), as data: one row per
    * query, `n_hits` = |LSH top-k ∩ exact top-k| (0..k). Every ingredient
    * is oracle-replayable, so the recall NUMBER itself sits under the
    * cross-engine hash gate — the quantitative ANN contract as a gated
    * fact rather than a spec assertion. */
  def annRecallLsh(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, nPlanes: Int = 4, dims: Int = 64,
                   tables: Int = 4, probes: Int = 0): DataFrame = {
    val exact = cosineTopK(corpus, queries, idCol, vecCol, k)
      .select("query_id", "neighbor_id")
    val approx = cosineTopKLshFixed(corpus, queries, idCol, vecCol, k,
        nPlanes, dims, tables, probes)
      .select("query_id", "neighbor_id")
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    queries.select(col(idCol).as("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        lit(k).as("k"))
  }

  /** A trained centroid: (cent_id, vector). Codebooks are metadata-scale
    * (k·dims floats) and live driver-side between training rounds — exactly
    * like any trained codebook a real deployment would broadcast. */
  type Centroid = (Long, Array[Float])

  /** Top-`nProbe` centroids by (sim DESC, cent_id ASC) as an array of
    * struct(sim, cid, cv) — the multi-probe counterpart of the native
    * [[graft.plans.CodebookExpressions.nearestCell]] kernel: one per-row
    * comparator sort of the literal-centroid scores. The comparator is an
    * interpreted HOF, so this is for the QUERY side only (benchmark/query
    * sets are small); corpus-scale assignment stays on the native
    * kernels. */
  private def probeCells(v: Column, vn: Column, cents: Seq[Centroid],
                         nProbe: Int): Column = {
    import graft.plans.FloatVectorExpressions.{dot, norm}
    val cands = array(cents.map { case (cid, cv) =>
      val cl = typedlit(cv)
      struct((dot(v, cl) / (vn * norm(cl))).as("sim"),
        lit(cid).as("cid"), cl.as("cv"))
    }: _*)
    slice(array_sort(cands, (a, b) =>
      when(a.getField("sim") > b.getField("sim"), -1)
        .when(a.getField("sim") < b.getField("sim"), 1)
        .when(a.getField("cid") < b.getField("cid"), -1)
        .when(a.getField("cid") > b.getField("cid"), 1)
        .otherwise(0)), 1, nProbe)
  }

  /** Deterministic Lloyd-iteration k-means centroids for IVF partitioning:
    * seeds from the `k` lowest-id corpus vectors, then `iters` rounds of
    * (assign to nearest centroid by cosine → element-wise mean per cell).
    * Assignment is a pure projection through the native codebook kernel
    * ([[graft.plans.CodebookExpressions.nearestCell]] — N·k dot products,
    * fully distributed, no shuffle, one plan node); the only exchange per
    * round is the map-side-combined mean aggregate, DECIMAL-exact so the
    * codebook is bit-identical across partitionings. Empty cells keep
    * their previous centroid. */
  def lloydCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int = 2): Seq[Centroid] = {
    // cent_id = xxhash64 of the id rendered as string: deterministic and
    // type-agnostic (a plain cast-to-long would null out string ids and
    // crash the collect below)
    var cents: Seq[Centroid] = corpus.orderBy(col(idCol)).limit(k)
      .select(xxhash64(col(idCol).cast(StringType)).as("cent_id"),
        col(vecCol).as("cv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .toSeq.sortBy(_._1)
    for (_ <- 0 until iters) {
      // fan out before the assign kernel + posexplode: N·k dot products
      // plus a ×dims explode otherwise run as ONE map task over a 1-file
      // corpus scan (452 ms serial at sf0.1/local[32] — see Par). The
      // DECIMAL-exact mean keeps the codebook bit-identical across
      // partitionings, so the collected centroids are unchanged.
      val means = Par.widen(
          corpus.select(col(idCol).as("id"), col(vecCol).as("v")), col("id"))
        .select(graft.plans.CodebookExpressions.nearestCell(col("v"), cents)
          .as("cent_id"), posexplode(col("v")))
        .groupBy("cent_id", "pos")
        .agg((sum(col("col").cast(Dec)).cast(DoubleType) / count(lit(1))).as("m"))
        .collect()
      val byCell: Map[Long, Array[Float]] = means.groupBy(_.getLong(0)).map {
        case (c, rows) => c -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat)
      }
      cents = cents.map { case (c, v) => (c, byCell.getOrElse(c, v)) }
        .sortBy(_._1)
    }
    cents
  }

  /** [[lloydCentroids]] rendered as a (cent_id, cv) DataFrame — for callers
    * that persist or join the codebook as a table. */
  def lloydCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int = 2): DataFrame =
    codebookDF(corpus.sparkSession,
      lloydCentroids(corpus, idCol, vecCol, k, iters))

  /** The one definition of the codebook-as-DataFrame layout: (cent_id, cv).
    * Callers that already hold trained centroids (e.g. to also feed
    * [[ivfEncode]]) stage through this instead of re-deriving the schema. */
  def codebookDF(spark: SparkSession, cents: Seq[Centroid]): DataFrame = {
    import spark.implicits._
    cents.toDF("cent_id", "cv")
  }

  /** IVF-style approximate top-k over Lloyd-trained coarse centroids
    * ([[lloydCentroids]]): every vector assigned to its nearest centroid,
    * queries probe `nProbe` nearest cells only. Cell assignment is a pure
    * projection over the literal codebook (no shuffle); candidate
    * generation is one broadcast-join on cell id — the inverted-file shape
    * that scales: list size ~N/nCentroids. */
  def cosineTopKIvf(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, nCentroids: Int = 16,
                    nProbe: Int = 6, kmeansIters: Int = 1): DataFrame = {
    val cents = lloydCentroids(corpus, idCol, vecCol, nCentroids, kmeansIters)
    ivfTopKFromIndex(ivfEncode(corpus, idCol, vecCol, cents),
      queries, idCol, vecCol, cents, k, nProbe)
  }

  /** The IVF INDEX rows — `(neighbor_id, cell, nnorm, nv)`: every corpus
    * vector assigned to its nearest coarse cell (pure projection through
    * the native codebook kernel, no shuffle) plus the norm the exact
    * re-rank needs. Split out of [[cosineTopKIvf]] so the STREAMING index
    * maintenance ([[graft.streaming.Declared.ivfIndexMaintain]]) can fold
    * arriving vectors into a standing inverted list per micro-batch — the
    * FAISS/Milvus continuous-ingestion shape — and serve queries from the
    * index at rest. */
  def ivfEncode(corpus: DataFrame, idCol: String, vecCol: String,
                cents: Seq[Centroid]): DataFrame = {
    import graft.plans.FloatVectorExpressions.norm
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .withColumn("nnorm", norm(col("nv")))
      .withColumn("cell",
        graft.plans.CodebookExpressions.nearestCell(col("nv"), cents))
  }

  /** Driver-side probe PLANNING: the distinct cells the query set probes
    * (queries × nProbe ids — metadata scale by construction, the collect
    * every ANN system's query planner performs). Feeding these into a
    * partition filter over a cell-partitioned index table turns the probe
    * into STATIC partition pruning: the scan lists and reads only the
    * probed cells' files — nProbe/nCentroids of the index's FILES, not
    * just its rows (the q_point_lookup treatment for vector search). */
  def ivfProbeCells(queries: DataFrame, vecCol: String,
                    cents: Seq[Centroid], nProbe: Int): Seq[Long] = {
    import graft.plans.FloatVectorExpressions.norm
    queries.select(col(vecCol).as("qv"))
      .withColumn("qnorm", norm(col("qv")))
      .select(explode(transform(
        probeCells(col("qv"), col("qnorm"), cents, nProbe),
        c => c.getField("cid"))).as("cell"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
  }

  /** Probe + exact-rank stage of [[cosineTopKIvf]] over an
    * already-materialized index frame (from [[ivfEncode]] or a standing
    * streaming fold): queries probe their `nProbe` nearest cells, one
    * equi-join on cell pulls the inverted lists, exact cosine re-ranks.
    * Cost ∝ nProbe/nCentroids of the index — the inverted-file contract. */
  def ivfTopKFromIndex(index: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, cents: Seq[Centroid], k: Int,
                       nProbe: Int): DataFrame = {
    import graft.plans.FloatVectorExpressions.{dot, norm}
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        .withColumn("qnorm", norm(col("qv")))
        .withColumn("cell", explode(transform(
          probeCells(col("qv"), col("qnorm"), cents, nProbe),
          c => c.getField("cid")))))
    val scored = index.join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", round(
        dot(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")), 6))
      .dropDuplicates("query_id", "neighbor_id") // multi-probe overlap
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** A trained PQ codebook entry: (sub, code, centroid). */
  type BookEntry = (Int, Long, Array[Float])

  /** Per-subspace L2 codebooks for product quantization: the vector is cut
    * into `m` contiguous subvectors of dims/m floats; each subspace trains
    * its own `ksub`-centroid codebook with deterministic Lloyd rounds
    * (lowest-id seeds, L2 assignment with (dist², code) tie-break,
    * DECIMAL-exact means — bit-identical across partitionings). Assignment
    * is a pure projection through the native PQ kernel
    * ([[graft.plans.CodebookExpressions.pqCodes]]); the only exchange per
    * round is the map-side-combined mean aggregate. Result is m·ksub
    * entries — metadata scale, broadcastable. */
  def pqBooks(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int = 4, ksub: Int = 16, dims: Int = 64,
              iters: Int = 1): Seq[BookEntry] = {
    val dsub = dims / m
    require(m * dsub == dims, s"dims=$dims must divide by m=$m")
    // seeds: the ksub lowest-id vectors' subvectors, per subspace
    var books: Seq[BookEntry] = corpus.orderBy(col(idCol)).limit(ksub)
      .select(xxhash64(col(idCol).cast(StringType)).as("code"),
        col(vecCol).as("v"))
      .collect().flatMap { r =>
        val code = r.getLong(0)
        val v = r.getSeq[Float](1).toArray
        (0 until m).map(s => (s, code, v.slice(s * dsub, (s + 1) * dsub)))
      }.toSeq.sortBy(t => (t._1, t._2))
    for (_ <- 0 until iters) {
      val means = corpus
        .select(col(vecCol).as("v"),
          posexplode(graft.plans.CodebookExpressions
            .pqCodes(col(vecCol), books, m, dims)).as(Seq("sub", "code")))
        .select(col("sub"), col("code"),
          posexplode(slice(col("v"), col("sub") * lit(dsub) + lit(1), lit(dsub))))
        .groupBy("sub", "code", "pos")
        .agg((sum(col("col").cast(Dec)).cast(DoubleType) / count(lit(1))).as("mv"))
        .collect()
      val byCell = means.groupBy(r => (r.getInt(0), r.getLong(1))).map {
        case (k0, rows) =>
          k0 -> rows.sortBy(_.getInt(2)).map(_.getDouble(3).toFloat)
      }
      books = books.map { case (s, c, v) => (s, c, byCell.getOrElse((s, c), v)) }
        .sortBy(t => (t._1, t._2))
    }
    books
  }

  /** [[pqBooks]] rendered as a (sub, code, cv, csq) DataFrame — the
    * broadcastable lookup-table side of ADC scoring. */
  def pqCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                 m: Int = 4, ksub: Int = 16, dims: Int = 64,
                 iters: Int = 1): DataFrame = {
    import graft.plans.FloatVectorExpressions.dot
    val spark = corpus.sparkSession
    import spark.implicits._
    pqBooks(corpus, idCol, vecCol, m, ksub, dims, iters)
      .toDF("sub", "code", "cv")
      .withColumn("csq", dot(col("cv"), col("cv")))
  }

  /** PQ-encode the corpus: one (id, sub, code) row per subvector — the
    * compressed representation (m codes instead of dims floats) that a
    * billion-scale index scans. A pure projection through the native PQ
    * kernel ([[graft.plans.CodebookExpressions.pqCodes]]) + one explode;
    * no join, no shuffle. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               books: Seq[BookEntry], m: Int, dims: Int): DataFrame =
    corpus.select(col(idCol).as("id"),
        posexplode(graft.plans.CodebookExpressions
          .pqCodes(col(vecCol), books, m, dims)).as(Seq("sub", "code")))
      .select("id", "sub", "code")

  /** PQ approximate top-k with ADC scoring + exact re-rank — the
    * compressed-domain half of the canonical IVF-PQ billion-scale layout:
    *
    *  1. train m per-subspace codebooks ([[pqCodebook]]), encode the corpus
    *     to m codes/vector ([[pqEncode]]) — 16× smaller than the floats at
    *     the defaults (64 floats → 4 codes);
    *  2. ADC (asymmetric distance computation): each query precomputes its
    *     dot with every per-subspace centroid (m·ksub lookup-table entries,
    *     broadcast), so scoring a corpus vector is m lookup-joins + a sum —
    *     the float vectors are never read during the scan;
    *     approx cosine = Σ q_sub·c(code) / (|q| · √Σ|c(code)|²), exact for
    *     the RECONSTRUCTED vector since subspaces are disjoint;
    *  3. the top k·`refine` candidates per query re-rank with exact cosine
    *     on the true vectors (two narrow id-joins), top-k of that is final.
    *
    * Approximate by construction ⇒ rows-only; recall measured in
    * AnnRecallSpec against the exact brute force. */
  def cosineTopKPq(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, m: Int = 4, ksub: Int = 16,
                   dims: Int = 64, refine: Int = 4,
                   iters: Int = 1): DataFrame = {
    import graft.plans.FloatVectorExpressions.{dot, norm}
    val spark = corpus.sparkSession
    import spark.implicits._
    val dsub = dims / m
    // books train driver-side (Lloyd collects each round anyway) — nothing
    // to checkpoint; every consumer reads the same literal entries
    val books = pqBooks(corpus, idCol, vecCol, m, ksub, dims, iters)
    val booksDf = books.toDF("sub", "code", "cv")
      .withColumn("csq", dot(col("cv"), col("cv")))
    val codes = pqEncode(corpus, idCol, vecCol, books, m, dims)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qnorm", norm(col("qv")))
    val lut = broadcast(q.crossJoin(broadcast(booksDf))
      .select(col("query_id"), col("qnorm"), col("sub"), col("code"),
        dot(slice(col("qv"), col("sub") * dsub + 1, lit(dsub)), col("cv"))
          .as("pdot"),
        col("csq")))
    val approx = codes.join(lut, Seq("sub", "code"))
      .groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(first(col("qnorm")).as("qnorm"),
        sum(col("pdot")).as("adot"), sum(col("csq")).as("vsq"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("approx",
        col("adot") / (col("qnorm") * sqrt(col("vsq"))))
    val wa = Window.partitionBy("query_id")
      .orderBy(col("approx").desc, col("neighbor_id").asc)
    val cand = approx.withColumn("__r", row_number().over(wa))
      .filter(col("__r") <= k * refine)
      .select("query_id", "neighbor_id")
    // exact re-rank on the true vectors
    val side = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .withColumn("nnorm", norm(col("nv")))
    val scored = cand
      .join(broadcast(q), Seq("query_id"))
      .join(side, Seq("neighbor_id"))
      .withColumn("cosine", round(
        dot(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** IVF-PQ approximate top-k — the full canonical billion-scale ANN layout
    * (Jégou et al. 2011), composing the two halves this module already has:
    *
    *  1. COARSE: a Lloyd-trained codebook ([[lloydCodebook]]) partitions the
    *     corpus into `nCentroids` inverted lists; every vector stores its
    *     cell + the RESIDUAL v − c(cell) (residuals are what PQ quantizes —
    *     they're smaller than raw vectors, so the same code budget loses
    *     less signal);
    *  2. PQ: per-subspace codebooks train on the residuals
    *     ([[pqCodebook]]), the corpus encodes to m codes/vector
    *     ([[pqEncode]]) — the floats never travel during the scan;
    *  3. SCAN: a query probes its `nProbe` nearest cells; per (query, cell)
    *     the ADC lookup table carries q·c(cell), the per-(sub,code) dots of
    *     the query RESIDUAL with the PQ centroids, plus the c·r̂ cross
    *     terms — so approx cosine is exact for the reconstructed vector
    *     ĉ+r̂: (q·c + Σ qr·r̂) / (|q|·√(|c|² + 2Σ c·r̂ + Σ|r̂|²));
    *  4. exact re-rank of the top k·`refine` on the true vectors.
    *
    * All LUTs are metadata-scale broadcasts (queries × nProbe × m × ksub);
    * the scan is one equi-join on (cell, sub, code) + a hash agg — the
    * inverted-file shape whose cost is nProbe/nCentroids of the corpus.
    * Approximate ⇒ rows-only; recall floors live in AnnRecallSpec. */
  def cosineTopKIvfPq(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int, nCentroids: Int = 16,
                      nProbe: Int = 4, m: Int = 8, ksub: Int = 16,
                      dims: Int = 64, refine: Int = 4,
                      iters: Int = 1): DataFrame = {
    val coarse = lloydCentroids(corpus, idCol, vecCol, nCentroids, iters)
    // corpus → (id, cell, residual) in ONE projection through the native
    // assign kernel; checkpointed: feeds BOTH book training and encoding
    val assigned = ivfPqAssign(corpus, idCol, vecCol, coarse).localCheckpoint()
    val books = pqBooks(assigned, "id", "rv", m, ksub, dims, iters)
    ivfPqTopKFromCodes(ivfPqEncode(assigned, books, m, dims), corpus,
      queries, idCol, vecCol, coarse, books, k, nProbe, m, dims, refine)
  }

  /** Coarse-assign + residual stage of the IVF-PQ layout: (id, cell, rv)
    * in ONE projection through the native assign kernel
    * ([[graft.plans.CodebookExpressions.assignResidual]] — no crossJoin,
    * no window shuffle). Split out of [[cosineTopKIvfPq]] so the PERSISTED
    * serving index ([[graft.Queries]] `stagedIvfPqIndexDir`) encodes with
    * the identical arithmetic. */
  def ivfPqAssign(corpus: DataFrame, idCol: String, vecCol: String,
                  coarse: Seq[Centroid]): DataFrame =
    corpus.select(col(idCol).as("id"),
        graft.plans.CodebookExpressions
          .assignResidual(col(vecCol), coarse).as("a"))
      .select(col("id"), col("a.cell").as("cell"), col("a.rv").as("rv"))

  /** Residual-PQ encode of an [[ivfPqAssign]] frame: (id, cell, sub, code)
    * — m codes/vector, the cell riding along (no id-self-join to re-attach
    * it). This IS the persisted-index row format: the floats never travel
    * during a scan over these rows. */
  def ivfPqEncode(assigned: DataFrame, books: Seq[BookEntry], m: Int,
                  dims: Int): DataFrame =
    assigned.select(col("id"), col("cell"),
        posexplode(graft.plans.CodebookExpressions
          .pqCodes(col("rv"), books, m, dims)).as(Seq("sub", "code")))
      .select("id", "cell", "sub", "code")

  /** [[pqBooks]] rendered as the persistable (sub, code, bcv) layout — ONE
    * definition of the on-disk book schema, mirroring [[codebookDF]] for
    * the coarse half. */
  def pqBooksDF(spark: SparkSession, books: Seq[BookEntry]): DataFrame = {
    import spark.implicits._
    books.toDF("sub", "code", "bcv")
  }

  /** ADC scan + exact re-rank over an already-encoded (id, cell, sub, code)
    * frame — the serving half of [[cosineTopKIvfPq]], split out so a
    * PERSISTED cell-partitioned codes table (probe-pruned at the file
    * level) scans with the identical broadcast lookup-table arithmetic.
    * All LUTs are metadata-scale broadcasts (queries × nProbe × m × ksub
    * entries); the scan is one equi-join on (cell, sub, code) + a hash
    * agg — cost ∝ nProbe/nCentroids of the codes. */
  def ivfPqTopKFromCodes(codes: DataFrame, corpus: DataFrame,
                         queries: DataFrame, idCol: String, vecCol: String,
                         coarse: Seq[Centroid], books: Seq[BookEntry],
                         k: Int, nProbe: Int, m: Int, dims: Int,
                         refine: Int): DataFrame = {
    import graft.plans.FloatVectorExpressions.{dot, norm}
    val spark = corpus.sparkSession
    import spark.implicits._
    val dsub = dims / m
    require(m * dsub == dims, s"dims=$dims must divide by m=$m")
    val booksDf = books.toDF("sub", "code", "bcv")
      .withColumn("csq", dot(col("bcv"), col("bcv")))
    val coarseDf = coarse.toDF("cell", "ccv")
    // (cell, sub, code) → c·r̂ cross-term: tiny (nCentroids·m·ksub)
    val crossDots = coarseDf.crossJoin(booksDf)
      .select(col("cell"), col("sub"), col("code"),
        dot(slice(col("ccv"), col("sub") * dsub + 1, lit(dsub)), col("bcv"))
          .as("cdot"))
    // queries probe nProbe cells ([[probeCells]] — per-row sort, no
    // shuffle); per probed cell the residual differs
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qnorm", norm(col("qv")))
    val qcells = q
      .withColumn("p", explode(probeCells(col("qv"), col("qnorm"), coarse, nProbe)))
      .select(col("query_id"), col("qnorm"), col("p").getField("cid").as("cell"),
        dot(col("p").getField("cv"), col("p").getField("cv")).as("csq_c"),
        dot(col("qv"), col("p").getField("cv")).as("qc"),
        zip_with(col("qv"), col("p").getField("cv"), (x, y) => x - y).as("qr"))
    val lut = broadcast(qcells.crossJoin(broadcast(booksDf))
      .select(col("query_id"), col("cell"), col("sub"), col("code"),
        col("qnorm"), col("qc"), col("csq_c"),
        dot(slice(col("qr"), col("sub") * dsub + 1, lit(dsub)), col("bcv"))
          .as("qdot"),
        col("csq"))
      .join(broadcast(crossDots), Seq("cell", "sub", "code")))
    val approx = codes.join(lut, Seq("cell", "sub", "code"))
      .groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(first(col("qnorm")).as("qnorm"),
        first(col("qc")).as("qc"), first(col("csq_c")).as("csq_c"),
        sum(col("qdot")).as("rdot"), sum(col("cdot")).as("crdot"),
        sum(col("csq")).as("rsq"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("approx", (col("qc") + col("rdot")) /
        (col("qnorm") * sqrt(greatest(
          col("csq_c") + lit(2.0) * col("crdot") + col("rsq"), lit(1e-12)))))
    val wa = Window.partitionBy("query_id")
      .orderBy(col("approx").desc, col("neighbor_id").asc)
    val cand = approx.withColumn("__r", row_number().over(wa))
      .filter(col("__r") <= k * refine)
      .select("query_id", "neighbor_id")
    val side = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .withColumn("nnorm", norm(col("nv")))
    val scored = cand
      .join(broadcast(q), Seq("query_id"))
      .join(side, Seq("neighbor_id"))
      .withColumn("cosine", round(
        dot(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Embedding-cosine near-dup pairs (the vector analog of Jaccard dedup),
    * LSH-bucketed: candidate pairs come from shared (table, bucket) cells of
    * `tables` independent random-hyperplane hash tables (OR-construction,
    * the same shape [[DedupOps.minhashLshNearDups]] uses for text), then
    * exact cosine verifies each candidate. The bucket self-join is an
    * EQUI-join on (table, bucket) — a shuffled hash/sort-merge join whose
    * cost is Σ bucket² per table, never a cartesian/BNLJ over the corpus —
    * so the pair space stays bounded at 10⁸+ vectors as long as bucket
    * sizes are bounded (raise `nPlanes` with corpus size: buckets = 2^planes).
    *
    * Recall follows the sign-LSH collision curve p = (1 - θ/π)^planes per
    * table: high for true near-dups (cosine ≥ 0.9 ⇒ ~0.96 recall at
    * 4 planes × 4 tables) and intentionally low for weakly-similar pairs —
    * the regime near-dup DEDUP cares about. Measured on the fixture in
    * AnnRecallSpec (cosineNearDups vs [[cosineNearDupsExact]] ground truth).
    *
    * The signature frame is localCheckpoint'ed: both sides of the self-join
    * would otherwise recompute the plane projections (2× the bucketing cost).
    */
  def cosineNearDups(corpus: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, nPlanes: Int = 0, dims: Int = 64,
                     tables: Int = 4): DataFrame = {
    import graft.plans.FloatVectorExpressions.{dot, norm}
    // fan out before the norm/bucket kernels (see Par) — the production
    // twin of the cosineNearDupsLshFixed single-task defect
    val side = Par.widen(
        corpus.select(col(idCol).as("id"), col(vecCol).as("v")), col("id"))
      .withColumn("nrm", norm(col("v")))
      .localCheckpoint()
    // nPlanes <= 0 ⇒ auto-size from the corpus via [[planesFor]], so the
    // bucket self-join stays bounded as the corpus grows without the
    // caller re-deriving the knob (the count reads the checkpointed side)
    val planes =
      if (nPlanes > 0) nPlanes else planesFor(side.count(), targetBucket = 125)
    // candidate generation stays NARROW: only (id, table, bucket) flows
    // through the self-join and the pair dedup — the 64-float vectors would
    // otherwise be duplicated ×tables and shuffled twice
    val banded = side.select(col("id"),
      posexplode(array((0 until tables).map(t =>
        lshBucket(col("v"), planes, dims, seed = 42L + t)): _*)))
      .withColumnRenamed("pos", "table")
      .withColumnRenamed("col", "bucket")
    val a = banded.alias("a")
    val b = banded.alias("b")
    // pre-distinct fan-out: keeps the dedup agg, the id_a attach join, and
    // the verify kernel wide off one explicit exchange (see Par /
    // knnGraphLshFixed — the production twin of the same coalesced shape)
    val candidates = Par.fanOut(
      a.join(b, col("a.table") === col("b.table") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")), col("id_a"))
      .dropDuplicates("id_a", "id_b") // a pair may share cells in several tables
    // exact-cosine verify: two id-equi-joins re-attach vectors — linear
    // shuffles (broadcastable when the corpus side is small)
    candidates
      .join(side.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), Seq("id_a"))
      .join(side.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), Seq("id_b"))
      .withColumn("cosine",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** [[cosineNearDups]] with every arithmetic step on the ORACLE-SHARED
    * fixed-point grid (the [[cosineTopKLshFixed]] construction applied to
    * the self-join dedup shape): bucket bits are the sign of
    * `dotFixed(v, plane)` — an integer-sum sign, exact in ANSI SQL — the
    * hot-cell cap is a windowed per-(table,bucket) count (replayable as
    * `COUNT(*) OVER`), and the verify is the round-6 fixed-point cosine.
    * Same buckets, candidates, and pairs as the production double-kernel
    * path except where a projection sits within float-fold ulp of zero
    * (never observed on the fixtures; AnnRecallSpec still floors the
    * production path) — this twin exists so the LSH NEAR-DUP ALGORITHM
    * itself is replayed by the DuckDB oracle (q_dedup_embedding), turning
    * the spec-only recall floor into a cross-engine-gated fact.
    *
    * Verify is two-phase like [[cosineNearDupsFixed]]: the codegen'd
    * double kernel prefilters candidates with a 2e-6 margin (|kernel −
    * grid| ≤ 1e-6 per pair, so no true pair is dropped) and only the thin
    * boundary shell pays the exact fixed-point re-score. Scale shape is
    * the production kernel's: narrow (id, table, bucket) candidate
    * generation, Σ bucket² join cost, cap before pairs materialize. */
  def cosineNearDupsLshFixed(corpus: DataFrame, idCol: String, vecCol: String,
                             threshold: Double, nPlanes: Int = 4,
                             dims: Int = 64, tables: Int = 4,
                             maxBucket: Int = Int.MaxValue): DataFrame = {
    import graft.plans.FloatVectorExpressions.{dot, norm}
    // fan out before the norm/bucket kernels (see Par: 302 + 264 ms of
    // single-task kernel CPU on this shape at sf0.1/local[32])
    val side = Par.widen(
        corpus.select(col(idCol).as("id"), col(vecCol).as("v")), col("id"))
      .withColumn("fnrm", norm(col("v")))
      .withColumn("xnrm", sqrt(dotFixed(col("v"), col("v"))))
      .localCheckpoint()
    // windowed count, not a blacklist: oracle-replayable as COUNT(*) OVER
    // and the exchange is reused by the self-join
    val banded = bandedFixed(side, nPlanes, dims, tables, maxBucket)
    // pre-distinct fan-out: keeps the dedup agg, the id_a attach join, and
    // the verify kernels wide off one explicit exchange (see Par /
    // knnGraphLshFixed — the coalesced distinct ran 330 ms serial here)
    val candidates = Par.fanOut(banded.alias("a").join(banded.alias("b"),
        col("a.table") === col("b.table") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")), col("id_a"))
      .dropDuplicates("id_a", "id_b") // any-table OR semantics
    candidates
      .join(side.select(col("id").as("id_a"), col("v").as("va"),
        col("fnrm").as("fa"), col("xnrm").as("na")), Seq("id_a"))
      .join(side.select(col("id").as("id_b"), col("v").as("vb"),
        col("fnrm").as("fb"), col("xnrm").as("nb")), Seq("id_b"))
      .filter(dot(col("va"), col("vb")) / (col("fa") * col("fb"))
        >= threshold - 2e-6)
      .withColumn("cosine", round(
        dotFixed(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** LSH SIMILARITY JOIN between two corpora with DIFFERENT id spaces —
    * the missing piece of the retrieval algebra next to [[cosineTopKLsh]]
    * (query-batch retrieval) and [[cosineNearDups]] (self-join dedup):
    * "which items of corpus A are near-duplicates of / aligned with items
    * of corpus B" (cross-lingual alignment, train-vs-eval contamination at
    * embedding level, catalog matching). Both sides hash with the SAME
    * fixed-seed hyperplanes, candidates share a (table, bucket) cell in
    * any OR-table, exact cosine verifies against `threshold`.
    *
    * Scale shape: candidate generation flows only (id, table, bucket) —
    * vectors re-attach by two linear id-joins; Σ per-cell |A|·|B| bounds
    * the join, and `maxBucket` (OPT-IN, the DedupOps hot-bucket-cap
    * contract) drops any cell where EITHER side exceeds the cap before
    * pairs materialize — a degenerate hub cell (e.g. the zero-vector
    * bucket) would otherwise go quadratic. Dropped cells drop their pairs;
    * set the cap deliberately. Approximate by construction (bucketing
    * misses cross-bucket true pairs) ⇒ rows-only; AnnRecallSpec floors the
    * recall against the exact bounded-sample truth. */
  def cosineSimJoinLsh(left: DataFrame, right: DataFrame, idCol: String,
                       vecCol: String, threshold: Double, nPlanes: Int = 0,
                       dims: Int = 64, tables: Int = 4,
                       maxBucket: Int = Int.MaxValue): DataFrame = {
    import graft.plans.FloatVectorExpressions.{dot, norm}
    def prep(df: DataFrame): DataFrame =
      df.select(col(idCol).as("id"), col(vecCol).as("v"))
        .withColumn("nrm", norm(col("v")))
        .localCheckpoint()
    val a = prep(left)
    val b = prep(right)
    // auto-size planes from the LARGER side (the bucket-count driver)
    val planes =
      if (nPlanes > 0) nPlanes
      else planesFor(math.max(a.count(), b.count()), targetBucket = 125)
    def banded(side: DataFrame): DataFrame = {
      val bd = side.select(col("id"),
        posexplode(array((0 until tables).map(t =>
          lshBucket(col("v"), planes, dims, seed = 42L + t)): _*)))
        .withColumnRenamed("pos", "table")
        .withColumnRenamed("col", "bucket")
      if (maxBucket == Int.MaxValue) bd
      else bd
        // windowed count (the capHotBuckets exchange-reuse rationale);
        // measured BETTER than a broadcast blacklist on this two-sided
        // shape at sf0.1 (1.35 vs 1.61 s — two small sides, so the
        // blacklist's per-side agg+broadcast build dominates)
        .withColumn("_bn", count(lit(1)).over(Window.partitionBy("table", "bucket")))
        .filter(col("_bn") <= maxBucket)
        .drop("_bn")
    }
    val candidates = banded(a).alias("a")
      .join(banded(b).alias("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b") // any-table OR semantics
    candidates
      .join(a.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), Seq("id_a"))
      .join(b.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), Seq("id_b"))
      .withColumn("cosine",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** [[cosineSimJoinLsh]] with every arithmetic step on the ORACLE-SHARED
    * fixed-point grid — the A×B twin of [[cosineNearDupsLshFixed]]: both
    * sides hash with the same fixed-seed planes via integer fixed-point
    * projection-sum signs, EACH side's hot cells are capped with a
    * windowed `COUNT(*) OVER` (a cell is dropped when either side exceeds
    * the cap — the production kernel's contract), candidates share a
    * (table, bucket) cell in any OR-table, and the verify is the round-6
    * fixed-point cosine with the two-phase double-kernel margin. DuckDB
    * replays the WHOLE cross-corpus similarity join (q_vec_sim_join). */
  def cosineSimJoinLshFixed(left: DataFrame, right: DataFrame, idCol: String,
                            vecCol: String, threshold: Double,
                            nPlanes: Int = 4, dims: Int = 64,
                            tables: Int = 4,
                            maxBucket: Int = Int.MaxValue): DataFrame = {
    import graft.plans.FloatVectorExpressions.{dot, norm}
    // fan out before the norm/bucket kernels (see Par: 435 ms of
    // single-task bucket-kernel CPU on this shape at sf0.1/local[32])
    def prep(df: DataFrame): DataFrame =
      Par.widen(df.select(col(idCol).as("id"), col(vecCol).as("v")), col("id"))
        .withColumn("fnrm", norm(col("v")))
        .withColumn("xnrm", sqrt(dotFixed(col("v"), col("v"))))
        .localCheckpoint()
    def banded(side: DataFrame): DataFrame =
      bandedFixed(side, nPlanes, dims, tables, maxBucket)
    val a = prep(left)
    val b = prep(right)
    // pre-distinct fan-out: keeps the dedup agg, the id_a attach join, and
    // the verify kernels wide off one explicit exchange (see Par /
    // knnGraphLshFixed — the coalesced distinct ran 441 ms serial here)
    val candidates = Par.fanOut(banded(a).alias("a")
      .join(banded(b).alias("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")), col("id_a"))
      .dropDuplicates("id_a", "id_b") // any-table OR semantics
    candidates
      .join(a.select(col("id").as("id_a"), col("v").as("va"),
        col("fnrm").as("fa"), col("xnrm").as("na")), Seq("id_a"))
      .join(b.select(col("id").as("id_b"), col("v").as("vb"),
        col("fnrm").as("fb"), col("xnrm").as("nb")), Seq("id_b"))
      .filter(dot(col("va"), col("vb")) / (col("fa") * col("fb"))
        >= threshold - 2e-6)
      .withColumn("cosine", round(
        dotFixed(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** All-pairs exact near-dup on the cross-engine fixed-point grid — the
    * oracle-shareable ground truth ([[dotFixed]] + ROUND(·,6), replayable in
    * ANSI SQL). Two-phase: the codegen'd double kernel prefilters the n²
    * pair space (its cosine differs from the fixed-point one by ≪1e-6, so a
    * 2e-6 margin never drops a true pair), and only the thin boundary shell
    * pays the exact fixed-point re-score. O(n²) by construction — bound the
    * input (sampling, blocking) and use [[cosineNearDups]] as the scale
    * path; this exists to put EXACT embedding dedup under the hash gate. */
  def cosineNearDupsFixed(corpus: DataFrame, idCol: String, vecCol: String,
                          threshold: Double): DataFrame = {
    import graft.plans.FloatVectorExpressions.{dot, norm}
    val side = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("fnrm", norm(col("v")))
      .withColumn("xnrm", sqrt(dotFixed(col("v"), col("v"))))
    val a = side.alias("a")
    val b = side.alias("b")
    a.join(b, col("a.id") < col("b.id"))
      .filter(dot(col("a.v"), col("b.v")) / (col("a.fnrm") * col("b.fnrm"))
        >= threshold - 2e-6)
      .withColumn("cosine", round(
        dotFixed(col("a.v"), col("b.v")) / (col("a.xnrm") * col("b.xnrm")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  /** EXACT k-NN GRAPH on the oracle-shared fixed-point grid — every node's
    * `k` nearest neighbors by ROUND(cosine, 6) with id tie-break: the
    * graph that semantic dedup, graph-based clustering, and
    * curriculum-mining pipelines build over an embedded corpus. O(n²) by
    * construction — bounded-sample / small-corpus ground truth (the
    * [[cosineNearDupsFixed]] ruling); [[knnGraphLsh]] is the scale path.
    *
    * Two-phase like [[cosineNearDupsFixed]]: the codegen'd double kernel
    * scores each unordered pair ONCE (mirrored to both directions), a
    * per-node k-th-value prefilter keeps only the top-k boundary shell,
    * and survivors pay the fixed-point re-score. The 1e-5 margin provably
    * covers the drift: |kernel − grid| ≤ 1e-6 per pair, order statistics
    * of pointwise-close sequences differ ≤ 1e-6, and 6-dp rounding moves
    * a value ≤ 5e-7 — any final top-k member sits within 3e-6 of the
    * double k-th value (VectorOpsSpec proves the phase-2 set equals the
    * unfiltered ranking on random fixtures). */
  def knnGraphExact(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    import graft.plans.FloatVectorExpressions.{dot, norm}
    val side = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("fnrm", norm(col("v")))
      .withColumn("xnrm", sqrt(dotFixed(col("v"), col("v"))))
      .localCheckpoint()
    val a = side.alias("a")
    val b = side.alias("b")
    // each unordered pair scored once with the fast kernel, then mirrored
    val half = a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dot(col("a.v"), col("b.v")) / (col("a.fnrm") * col("b.fnrm")))
          .as("dcos"))
      .localCheckpoint() // two mirror consumers
    val directed = half
      .select(col("id_a").as("node"), col("id_b").as("nbr"), col("dcos"))
      .union(half
        .select(col("id_b").as("node"), col("id_a").as("nbr"), col("dcos")))
    // per-node k-th double value via one full-frame window — nth_value is
    // null when a node has < k neighbors (keep them all)
    val wFull = Window.partitionBy("node")
      .orderBy(col("dcos").desc, col("nbr").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cand = directed
      .withColumn("kth", nth_value(col("dcos"), k).over(wFull))
      .filter(col("kth").isNull || col("dcos") >= col("kth") - 1e-5)
      .select("node", "nbr")
    val scored = cand
      .join(side.select(col("id").as("node"), col("v").as("va"),
        col("xnrm").as("na")), Seq("node"))
      .join(side.select(col("id").as("nbr"), col("v").as("vb"),
        col("xnrm").as("nb")), Seq("nbr"))
      .withColumn("cosine",
        round(dotFixed(col("va"), col("vb")) / (col("na") * col("nb")), 6))
    val w = Window.partitionBy("node")
      .orderBy(col("cosine").desc, col("nbr").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("node"), col("nbr").as("neighbor_id"), col("cosine"),
        col("rank"))
  }

  /** LSH-bucketed k-NN graph — the scale path of [[knnGraphExact]]:
    * candidates are pairs sharing a (table, bucket) cell in ANY of
    * `tables` sign-LSH hash tables (the [[cosineNearDups]] OR-construction
    * — an equi-join whose cost is Σ bucket² per table, never a corpus
    * cartesian), exact-ranked per node by the double kernel. Approximate
    * by construction (a true neighbor hashing into no shared bucket is
    * missed) — recall floored on the fixture in AnnRecallSpec.
    *
    * `maxBucket` is OPT-IN (the [[cosineSimJoinLsh]] hot-cell-cap
    * contract): any (table, bucket) cell with more members than the cap is
    * dropped BEFORE the self-join materializes its pairs, so one
    * degenerate cell (e.g. a zero-vector bucket) can never go quadratic at
    * corpus scale. Nodes whose every cell is dropped lose their neighbors
    * — set the cap deliberately; `planesFor` sizing keeps uniform data far
    * below any sane cap. */
  def knnGraphLsh(corpus: DataFrame, idCol: String, vecCol: String,
                  k: Int, nPlanes: Int = 0, dims: Int = 64,
                  tables: Int = 4, maxBucket: Int = Int.MaxValue): DataFrame = {
    import graft.plans.FloatVectorExpressions.{dot, norm}
    // fan out before the norm/bucket kernels (see Par) — the production
    // twin of the knnGraphLshFixed single-task defect
    val side = Par.widen(
        corpus.select(col(idCol).as("id"), col(vecCol).as("v")), col("id"))
      .withColumn("nrm", norm(col("v")))
      .localCheckpoint()
    val planes =
      if (nPlanes > 0) nPlanes else planesFor(side.count(), targetBucket = 125)
    // narrow candidate generation: only (id, table, bucket) self-joins
    val bandedAll = side.select(col("id"),
      posexplode(array((0 until tables).map(t =>
        lshBucket(col("v"), planes, dims, seed = 42L + t)): _*)))
      .withColumnRenamed("pos", "table")
      .withColumnRenamed("col", "bucket")
    val banded =
      if (maxBucket == Int.MaxValue) bandedAll
      else {
        // hot-cell cap as a BROADCAST BLACKLIST anti-join — measured A/B
        // on THIS shape at sf0.1: blacklist 4.4 s vs windowed count 6.3 s
        // vs localCheckpoint 4.7 s. Unlike capHotBuckets (where the
        // window's exchange is provably reused by the self-join —
        // DedupOpsSpec), here the corpus-wide 6-table banded frame makes
        // the window's per-partition sort the dominant cost; over-cap
        // cells are rare so the blacklist is metadata-scale
        val hot = bandedAll.groupBy("table", "bucket")
          .agg(count(lit(1)).as("_bn")).filter(col("_bn") > maxBucket)
          .select("table", "bucket")
        bandedAll.join(broadcast(hot), Seq("table", "bucket"), "left_anti")
      }
    val a = banded.alias("a")
    val b = banded.alias("b")
    // pre-distinct fan-out: keeps the dedup agg, the node attach join, and
    // the dot kernel wide off one explicit exchange (see Par /
    // knnGraphLshFixed — the production twin of the same coalesced shape)
    val cand = Par.fanOut(
      a.join(b, col("a.table") === col("b.table") &&
        col("a.bucket") === col("b.bucket") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("node"), col("b.id").as("nbr")), col("node"))
      .dropDuplicates("node", "nbr") // any-table OR semantics
    val scored = cand
      .join(side.select(col("id").as("node"), col("v").as("va"),
        col("nrm").as("na")), Seq("node"))
      .join(side.select(col("id").as("nbr"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("nbr"))
      .withColumn("cosine",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
    val w = Window.partitionBy("node")
      .orderBy(col("cosine").desc, col("nbr").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("node"), col("nbr").as("neighbor_id"), col("cosine"),
        col("rank"))
  }

  /** [[knnGraphLsh]] with every arithmetic step on the ORACLE-SHARED
    * fixed-point grid — the third self-join LSH twin next to
    * [[cosineNearDupsLshFixed]] (pairs) and [[cosineTopKLshFixed]]
    * (retrieval): bucket bits are integer fixed-point projection-sum
    * signs, the hot-cell cap a windowed `COUNT(*) OVER` (both exactly
    * replayable in ANSI SQL), candidates the (table, bucket) equi-self-
    * join under any-table OR semantics, and the per-node ranking the
    * round-6 fixed-point cosine with neighbor-id tie-breaks — DuckDB
    * replays the WHOLE approximate k-NN-graph build (q_vec_knn_graph_lsh).
    *
    * Ranking is two-phase like [[knnGraphExact]]: the codegen'd double
    * kernel scores every candidate edge, a per-node k-th-value prefilter
    * with the proven 1e-5 margin keeps only the top-k boundary shell, and
    * survivors pay the exact fixed-point re-score — the margin argument
    * carries verbatim (|kernel − grid| ≤ 1e-6 per pair, 6-dp rounding
    * moves ≤ 5e-7). */
  def knnGraphLshFixed(corpus: DataFrame, idCol: String, vecCol: String,
                       k: Int, nPlanes: Int = 4, dims: Int = 64,
                       tables: Int = 4,
                       maxBucket: Int = Int.MaxValue): DataFrame = {
    import graft.plans.FloatVectorExpressions.{dot, norm}
    // fan out BEFORE the norm/bucket kernels: a 1-file corpus scan is one
    // partition and the 16-projection fixed-grid bucket kernel otherwise
    // runs as ONE task (645 ms serial at sf0.1/local[32] — see Par)
    val side = Par.widen(
        corpus.select(col(idCol).as("id"), col(vecCol).as("v")), col("id"))
      .withColumn("fnrm", norm(col("v")))
      .withColumn("xnrm", sqrt(dotFixed(col("v"), col("v"))))
      .localCheckpoint()
    val banded = bandedFixed(side, nPlanes, dims, tables, maxBucket)
    // bucket collisions are symmetric, so each UNORDERED pair is
    // generated, deduped, and double-kernel-scored ONCE (half the join
    // and dot work), then mirrored to both directions — the
    // [[knnGraphExact]] `half` trick; the checkpoint feeds the two
    // mirror consumers. Scores go immediately SKINNY (ids + dcos): the
    // 2×64-float vectors must not ride through the window shuffles
    // (measured 2× the whole key's cost when they did).
    // fan the raw pairs out BEFORE the dedup aggregate (see Par): the
    // distinct over skinny pair rows AQE-coalesces to ONE task (726 ms of
    // serial HashAggregate at sf0.1/local[32]). hash(id_a) satisfies both
    // the aggregate's clustered distribution on (id_a, id_b) AND the first
    // attach join's — one explicit exchange keeps the dedup agg, the
    // id_a-join, and its kernel side wide
    val half = Par.fanOut(banded.alias("a").join(banded.alias("b"),
        col("a.table") === col("b.table") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")), col("id_a"))
      .dropDuplicates("id_a", "id_b") // any-table OR semantics
      .join(side.select(col("id").as("id_a"), col("v").as("va"),
        col("fnrm").as("fa")), Seq("id_a"))
      .join(side.select(col("id").as("id_b"), col("v").as("vb"),
        col("fnrm").as("fb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("fa") * col("fb"))).as("dcos"))
      .localCheckpoint()
    val scored = half
      .select(col("id_a").as("node"), col("id_b").as("nbr"), col("dcos"))
      .union(half
        .select(col("id_b").as("node"), col("id_a").as("nbr"), col("dcos")))
    val wFull = Window.partitionBy("node")
      .orderBy(col("dcos").desc, col("nbr").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val shell = scored
      .withColumn("kth", nth_value(col("dcos"), k).over(wFull))
      .filter(col("kth").isNull || col("dcos") >= col("kth") - 1e-5)
      .select("node", "nbr")
    // survivors (≈ k per node) re-attach vectors for the fixed re-score
    val rescored = shell
      .join(side.select(col("id").as("node"), col("v").as("va"),
        col("xnrm").as("na")), Seq("node"))
      .join(side.select(col("id").as("nbr"), col("v").as("vb"),
        col("xnrm").as("nb")), Seq("nbr"))
      .select(col("node"), col("nbr"), round(
        dotFixed(col("va"), col("vb")) / (col("na") * col("nb")), 6)
        .as("cosine"))
    val w = Window.partitionBy("node")
      .orderBy(col("cosine").desc, col("nbr").asc)
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("node"), col("nbr").as("neighbor_id"), col("cosine"),
        col("rank"))
  }

  /** One NN-DESCENT refinement round (Dong, Moses & Li, WWW'11) over an
    * approximate k-NN graph: "a neighbor of a neighbor is likely a
    * neighbor". Candidates per node = its current neighbors ∪ its
    * neighbors' neighbors (forward edges, the documented deterministic
    * variant), rescored EXACTLY (round-6 fixed-point cosine — the
    * [[knnGraphLshFixed]] grid) and cut back to top-`k` by
    * (cosine DESC, id ASC). Composed with an LSH-bucketed graph this is
    * the standard recall-push at scale: LSH gives a cheap O(n) seed graph,
    * one descent round closes most of the gap to exact (recall floor
    * pinned in AnnRecallSpec).
    *
    * Scale shape: the candidate set is ≤ k + k² SKINNY id pairs per node
    * (O(n·k²) total — candidates ride the shuffles without vectors), two
    * equi-joins re-attach vectors for scoring, one per-node window over
    * ≤ k+k² rows cuts back to k. No corpus² term anywhere; growth pinned
    * in ScaleGrowthSpec.
    *
    * @param graph (node, neighbor_id, ...) — any k-NN graph over `corpus`
    * @return (node, neighbor_id, cosine, rank) — same schema as the
    *         graph builders, so rounds compose
    */
  def knnGraphRefine(corpus: DataFrame, idCol: String, vecCol: String,
                     graph: DataFrame, k: Int): DataFrame = {
    val g = graph.select(col("node"), col("neighbor_id").as("nbr"))
      .localCheckpoint() // two self-join consumers
    val nn = g.alias("a").join(g.alias("b"), col("a.nbr") === col("b.node"))
      .select(col("a.node").as("node"), col("b.nbr").as("cand"))
    val cands = Par.fanOut(g.select(col("node"), col("nbr").as("cand"))
      .unionAll(nn)
      .filter(col("node") =!= col("cand"))
      .distinct(),
      // fan the skinny candidate pairs out before the attach joins +
      // rescore kernel (AQE-coalesced to one task otherwise — see Par)
      col("node"))
    val side = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", sqrt(dotFixed(col("v"), col("v"))))
    val scored = cands
      .join(side.select(col("id").as("node"), col("v").as("va"),
        col("nrm").as("na")), Seq("node"))
      .join(side.select(col("id").as("cand"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("cand"))
      .select(col("node"), col("cand").as("nbr"), round(
        dotFixed(col("va"), col("vb")) / (col("na") * col("nb")), 6)
        .as("cosine"))
    val w = Window.partitionBy("node")
      .orderBy(col("cosine").desc, col("nbr").asc)
    // g's blocks feed the result lazily — the CALLER owns them once the
    // result is consumed (the [[GraphOps.pageRank]] contract).
    // Explicit node fan-out feeds the window: its post-shuffle input is
    // skinny (node, nbr, cosine) rows, which AQE coalesced to ONE task
    // (510 ms of sort+rank CPU at sf0.1/local[32]); the explicit
    // hash-repartition satisfies the window's required distribution, so
    // no extra exchange — same shuffle, 32 tasks instead of 1.
    Par.fanOut(scored, col("node")).withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("node"), col("nbr").as("neighbor_id"), col("cosine"),
        col("rank"))
  }

  /** MATRYOSHKA (prefix-dimension) funnel retrieval: stage 1 ranks the
    * corpus by cosine over the first `prefixDims` dimensions only (the
    * MRL trick — nested representations make the prefix a valid coarse
    * embedding at 1/8th the bandwidth), keeps `k·refine` candidates per
    * query, and stage 2 re-ranks the survivors at full dimension. Both
    * stages score on the fixed-point grid with ROUND(·, 6) + id
    * tie-breaks, so the whole funnel is deterministic at any parallelism
    * AND oracle-replayable (unlike the LSH/IVF paths) — an approximate
    * retrieval strategy under the exact hash gate. At scale the stage-1
    * scan reads prefixDims/dims of the vector bytes (the storage win a
    * columnar layout makes real by storing the prefix as its own column);
    * stage 2 touches only k·refine vectors per query. */
  def cosineTopKPrefix(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, prefixDims: Int, k: Int,
                       refine: Int): DataFrame = {
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qp", slice(col("qv"), 1, prefixDims))
      .withColumn("qpn", sqrt(dotFixed(col("qp"), col("qp"))))
      .withColumn("qfn", sqrt(dotFixed(col("qv"), col("qv")))))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .withColumn("np", slice(col("nv"), 1, prefixDims))
      .withColumn("npn", sqrt(dotFixed(col("np"), col("np"))))
    val s1 = c.join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("pcos", round(
        dotFixed(col("qp"), col("np")) / (col("qpn") * col("npn")), 6))
    val w1 = Window.partitionBy("query_id")
      .orderBy(col("pcos").desc, col("neighbor_id").asc)
    val cands = s1.withColumn("prank", row_number().over(w1))
      .filter(col("prank") <= k * refine)
    val s2 = cands.withColumn("nfn", sqrt(dotFixed(col("nv"), col("nv"))))
      .withColumn("cosine", round(
        dotFixed(col("qv"), col("nv")) / (col("qfn") * col("nfn")), 6))
    val w2 = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    s2.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** MAXIMAL MARGINAL RELEVANCE re-rank (Carbonell & Goldstein 1998) — the
    * diversity-aware selection every retrieval/curation pipeline bolts onto
    * plain top-k: from a per-query candidate pool (top `pool` by cosine),
    * greedily pick `k` items maximizing
    *   wRel·rel(c) − wDiv·max_{s∈selected} sim(c, s)
    * so near-duplicate candidates stop crowding out coverage.
    *
    * Deterministic AND oracle-replayable: rel/sim land on an integer 1e6
    * grid — one IEEE multiply of the fixed-point cosine, then round at
    * SCALE 0, where the .5 boundary is exactly binary-representable so
    * Spark's HALF_UP and DuckDB's round-away agree even on halves (the
    * scale-6 half-case caveat on [[cosine]] does not apply here) — the
    * argmax orders by
    * (score DESC, cand ASC) — a total order — and the greedy recurrence is
    * replayed by the oracle as unrolled CTEs, putting an ITERATIVE
    * selection algorithm under the exact hash gate (the LSH/IVF paths
    * can't do this; the [[cosineTopKPrefix]] precedent can).
    *
    * Scale shape: queries broadcast; the corpus pays ONE scan to build the
    * pool (per-query WindowGroupLimit top-`pool`); everything after —
    * pairwise sims (pool² per query) and k argmax rounds — is
    * candidate-scale metadata, never corpus-scale. Driver loop runs k
    * rounds of tiny jobs with lineage cut per round.
    *
    * @return (query_id, neighbor_id, pick, rel6) — pick ∈ 1..k in
    *         selection order, rel6 = round(cosine·1e6)
    */
  // ONE definition of the MMR normalization/grid arithmetic, shared by
  // [[mmrRerank]] and [[mmrRerankOver]] so the two entry points cannot
  // drift one-sidedly (the mmrGreedy extraction's purpose, applied to
  // the pool-build side too — r18 review):
  //  - mmrQueryNorms: broadcast (query_id, qv, qn) on the fixed grid;
  //  - withCandNorm: appends cn to a (cand, cv) frame — mmrRerank applies
  //    it corpus-wide (the pool build needs every row), mmrRerankOver
  //    AFTER the candidate id-probe so the fetch pass stays norm-free;
  //  - mmrRel6: round(cosine·1e6), the relevance column both share.
  private def mmrQueryNorms(queries: DataFrame, idCol: String,
                            vecCol: String): DataFrame =
    broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", sqrt(dotFixed(col("qv"), col("qv")))))

  private def withCandNorm(df: DataFrame): DataFrame =
    df.withColumn("cn", sqrt(dotFixed(col("cv"), col("cv"))))

  private def mmrRel6: Column =
    round(dotFixed(col("qv"), col("cv")) / (col("qn") * col("cn"))
      * lit(1e6)).cast(LongType)

  def mmrRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, pool: Int, k: Int,
                wRel: Long = 7L, wDiv: Long = 3L,
                driverFastPathRows: Long = 100000L): DataFrame = {
    val q = mmrQueryNorms(queries, idCol, vecCol)
    val c = withCandNorm(
      corpus.select(col(idCol).as("cand"), col(vecCol).as("cv")))
    val wPool = Window.partitionBy("query_id")
      .orderBy(col("rel6").desc, col("cand").asc)
    // the pool: one corpus scan, top-`pool` per query on the integer grid
    val rel = c.join(q, col("cand") =!= col("query_id"))
      .withColumn("rel6", mmrRel6)
      .withColumn("rn", row_number().over(wPool))
      .filter(col("rn") <= pool)
      .select(col("query_id"), col("cand"), col("rel6"), col("cv"), col("cn"))
      .localCheckpoint() // consumed by sims (×2) and every greedy round
    mmrGreedy(rel, k, wRel, wDiv, driverFastPathRows)
  }

  /** MMR over an EXPLICIT per-query candidate set (query_id, neighbor_id)
    * instead of [[mmrRerank]]'s own relevance pool — the RAG serving
    * composition: a retrieval stage (e.g. the hybrid union-RRF fuse)
    * nominates candidates, the re-ranker fetches their vectors and runs
    * the identical greedy. Relevance is RE-SCORED on the cosine grid (the
    * re-ranker's own signal — retrieval credit is rank-scale, not
    * similarity-scale). Scale shape: the candidate list is queries×N rows
    * (metadata) and BROADCASTS into the corpus scan, so the vector fetch
    * is one map-side joined pass; everything after is candidate-scale.
    *
    * A retrieval stage that nominates the QUERY DOCUMENT itself is
    * self-excluded here (cand ≠ query_id, matching [[mmrRerank]]'s pool
    * contract — ADVICE r18 #2: rel6 = 1e6 would otherwise make it the
    * guaranteed first pick). */
  def mmrRerankOver(candidates: DataFrame, corpus: DataFrame,
                    queries: DataFrame, idCol: String, vecCol: String,
                    k: Int, wRel: Long = 7L, wDiv: Long = 3L,
                    driverFastPathRows: Long = 100000L): DataFrame = {
    val q = mmrQueryNorms(queries, idCol, vecCol)
    // the fetch pass is a pure id-probe: the norm is appended AFTER the
    // broadcast candidate join, so only queries×N candidate rows pay the
    // per-row dot+sqrt — not the corpus (r18 review: Catalyst does not
    // hoist a projection above the join on its own)
    val rel = withCandNorm(
        corpus.select(col(idCol).as("cand"), col(vecCol).as("cv"))
          .join(broadcast(candidates
            .select(col("query_id"), col("neighbor_id").as("cand"))),
            Seq("cand"))
          .filter(col("cand") =!= col("query_id")))
      .join(q, Seq("query_id"))
      .withColumn("rel6", mmrRel6)
      .select(col("query_id"), col("cand"), col("rel6"), col("cv"), col("cn"))
      .localCheckpoint() // consumed by sims (×2) and every greedy round
    mmrGreedy(rel, k, wRel, wDiv, driverFastPathRows)
  }

  /** The greedy MMR recurrence over a materialized
    * (query_id, cand, rel6, cv, cn) pool — shared by [[mmrRerank]] (own
    * relevance pool) and [[mmrRerankOver]] (caller-nominated candidates);
    * both paths (driver replay / distributed rounds) produce the
    * identical selection (VectorTextOpsSpec both-path sweeps). */
  private def mmrGreedy(rel: DataFrame, k: Int, wRel: Long, wDiv: Long,
                        driverFastPathRows: Long): DataFrame = {
    val wPool = Window.partitionBy("query_id")
      .orderBy(col("rel6").desc, col("cand").asc)
    // Adaptive driver fast path (the [[GraphOps.pageRank]] contract): the
    // caller's corpus-scale pool build stays distributed, but everything
    // after it is candidate-scale — queries×pool rows bounded by operator
    // PARAMETERS, not data size — while the distributed greedy pays
    // (k−1) rounds × several micro-jobs of pure planning/scheduling
    // latency (measured ~2.3 s vs ~1.2 s for identical output at sf0.1).
    // A pool that fits collects once; sims and the greedy recurrence
    // replay on the driver with BIT-IDENTICAL arithmetic: dotFixed's
    // floored 1e-13 long grid, Spark round's HALF_UP via
    // BigDecimal.valueOf, and the cand ASC tie-break through
    // [[GraphOps.driverOrdering]] (binary string collation). Unsupported
    // id types or null scores fall through to the distributed rounds.
    val candOrd = GraphOps.driverOrdering(rel.schema("cand").dataType)
    val qidOrd = GraphOps.driverOrdering(rel.schema("query_id").dataType)
    if (driverFastPathRows > 0 && candOrd.isDefined && qidOrd.isDefined &&
        rel.count() <= driverFastPathRows) {
      val rows = rel.collect()
      if (!rows.exists(r => r.isNullAt(2) || r.isNullAt(3) || r.isNullAt(4))) {
        implicit val ord: Ordering[Any] = candOrd.get
        case class Cand(cand: Any, rel6: Long, v: Array[Double], n: Double)
        val byQ = rows.groupBy(_.get(0)).view.mapValues(_.map { r =>
          Cand(r.get(1), r.getLong(2),
            r.getSeq[Any](3).iterator
              .map(_.asInstanceOf[Number].doubleValue).toArray,
            r.getDouble(4))
        }).toMap
        // sim6 exactly as the distributed column: floored long-grid dot,
        // one IEEE divide+multiply, HALF_UP round at scale 0, cast long
        def sim6(x: Cand, y: Cand): Long = {
          var s = 0L
          var i = 0
          while (i < x.v.length) {
            s += math.floor(x.v(i) * y.v(i) * 1e13).toLong; i += 1
          }
          java.math.BigDecimal.valueOf(s.toDouble / 1e13 / (x.n * y.n) * 1e6)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
        }
        val picks = byQ.toSeq.flatMap { case (qid, cands) =>
          val selected = scala.collection.mutable.ArrayBuffer[Cand]()
          val chosen = scala.collection.mutable.Set[Any]()
          // (score DESC, cand ASC) argmax — reduce keeps the FIRST best so
          // ties resolve to the ordering-min cand like row_number does
          def best(rem: Seq[Cand], score: Cand => Long): Cand =
            rem.reduceLeft { (x, y) =>
              val sx = score(x); val sy = score(y)
              if (sy > sx || (sy == sx && ord.lt(y.cand, x.cand))) y else x
            }
          for (j <- 1 to k) {
            val rem = cands.filter(cd => !chosen.contains(cd.cand))
            if (rem.nonEmpty && (j == 1 || selected.nonEmpty)) {
              val pick =
                if (j == 1) best(rem.toSeq, _.rel6)
                else best(rem.toSeq, cd =>
                  wRel * cd.rel6 - wDiv * selected.iterator.map(sim6(cd, _)).max)
              selected += pick
              chosen += pick.cand
            }
          }
          selected.zipWithIndex.map { case (cd, i) => (qid, cd, i + 1) }
        }
        val spark = rel.sparkSession
        val schema = StructType(Seq(
          StructField("query_id", rel.schema("query_id").dataType),
          StructField("neighbor_id", rel.schema("cand").dataType),
          StructField("pick", IntegerType, nullable = false),
          StructField("rel6", LongType)))
        rel.unpersist()
        import scala.jdk.CollectionConverters._
        return spark.createDataFrame(
          picks.map { case (qid, cd, p) =>
            org.apache.spark.sql.Row(qid, cd.cand, p, cd.rel6) }.asJava,
          schema)
      }
    }
    // candidate-scale pairwise sims, directed (c1 scored against c2 ∈ selected)
    val a = rel.select(col("query_id"), col("cand").as("c1"),
      col("cv").as("v1"), col("cn").as("n1"))
    val b = rel.select(col("query_id"), col("cand").as("c2"),
      col("cv").as("v2"), col("cn").as("n2"))
    val sims = a.join(b, Seq("query_id"))
      .filter(col("c1") =!= col("c2"))
      .withColumn("sim6",
        round(dotFixed(col("v1"), col("v2")) / (col("n1") * col("n2"))
          * lit(1e6)).cast(LongType))
      .select("query_id", "c1", "c2", "sim6")
      .localCheckpoint() // consumed once per greedy round
    val relSlim = rel.select("query_id", "cand", "rel6")
    // pick 1: pure relevance argmax (standard MMR bootstrap)
    var selected = relSlim
      .withColumn("rn", row_number().over(wPool))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("cand"), lit(1).as("pick"), col("rel6"))
      .localCheckpoint()
    for (j <- 2 to k) {
      val remaining = relSlim.join(selected.select("query_id", "cand"),
        Seq("query_id", "cand"), "left_anti")
      val maxSim = sims
        .join(selected.select(col("query_id"), col("cand").as("c2")),
          Seq("query_id", "c2"))
        .groupBy(col("query_id"), col("c1").as("cand"))
        .agg(max("sim6").as("ms"))
      val wSel = Window.partitionBy("query_id")
        .orderBy((lit(wRel) * col("rel6") - lit(wDiv) * col("ms")).desc,
          col("cand").asc)
      val next = remaining.join(maxSim, Seq("query_id", "cand"))
        .withColumn("rn", row_number().over(wSel))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("cand"), lit(j).as("pick"), col("rel6"))
      val prev = selected
      selected = prev.union(next).localCheckpoint()
      prev.unpersist()
    }
    rel.unpersist()
    sims.unpersist()
    selected.select(col("query_id"), col("cand").as("neighbor_id"),
      col("pick"), col("rel6"))
  }

  /** K-CENTER coreset seeding by FARTHEST-FIRST traversal (Gonzalez 1985)
    * — pick `k` maximally spread representatives of an embedded pool: seed
    * with the smallest id, then repeatedly take the candidate whose
    * nearest already-picked center is LEAST similar (max-min in cosine
    * distance ⇔ argmin of max sim). The 2-approximation every
    * diverse-subset / active-learning / cluster-init pipeline uses; the
    * complement of [[mmrRerank]]'s relevance-weighted objective — pure
    * coverage, no query.
    *
    * Deterministic and oracle-replayable by the same construction as MMR:
    * sims on the integer 1e6 grid, (maxsim ASC, cand ASC) a total order
    * per round, unrolled by the oracle as CTEs. O(pool²) sims by
    * construction — run it on a bounded candidate pool (the
    * [[knnGraphExact]] ruling), which is exactly how coreset seeding is
    * used: the pool is a cheap uniform sample, the k centers are the
    * expensive curated pick.
    *
    * @return (center_id, pick, maxsim6) — pick ∈ 1..k in selection order;
    *         maxsim6 = similarity to the nearest earlier center at
    *         selection time (1e6 for the seed), a coverage-radius trace
    */
  def kCenterSelect(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int, driverFastPathRows: Long = 100000L): DataFrame = {
    val c = corpus.select(col(idCol).as("cand"), col(vecCol).as("cv"))
      .withColumn("cn", sqrt(dotFixed(col("cv"), col("cv"))))
      .localCheckpoint() // pair build (×2) + seed agg + k anti-joins
    // Adaptive driver fast path (the [[mmrRerank]] construction): the
    // distributed rounds pay (k−1) micro-jobs of planning latency over a
    // parameter-bounded pool, and Gonzalez' traversal only ever needs each
    // candidate's similarity to the NEWEST center (the running max equals
    // the distributed per-round max over all selected), so the replay is
    // O(k·n) dots — not the pool² the distributed sims materialize.
    // Arithmetic is bit-identical: dotFixed's floored 1e-13 long grid,
    // HALF_UP round via BigDecimal.valueOf, seed/argmin tie-breaks through
    // [[GraphOps.driverOrdering]]. Unsupported id types or nulls fall
    // through to the distributed rounds.
    val candOrd = GraphOps.driverOrdering(c.schema("cand").dataType)
    if (driverFastPathRows > 0 && candOrd.isDefined &&
        c.count() <= driverFastPathRows) {
      val rows = c.collect()
      if (rows.nonEmpty &&
          !rows.exists(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2))) {
        implicit val ord: Ordering[Any] = candOrd.get
        case class Cand(cand: Any, v: Array[Double], n: Double)
        val cands = rows.map { r =>
          Cand(r.get(0),
            r.getSeq[Any](1).iterator
              .map(_.asInstanceOf[Number].doubleValue).toArray,
            r.getDouble(2))
        }
        def sim6(x: Cand, y: Cand): Long = {
          var s = 0L
          var i = 0
          while (i < x.v.length) {
            s += math.floor(x.v(i) * y.v(i) * 1e13).toLong; i += 1
          }
          java.math.BigDecimal.valueOf(s.toDouble / 1e13 / (x.n * y.n) * 1e6)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
        }
        val seed = cands.reduceLeft((x, y) => if (ord.lt(y.cand, x.cand)) y else x)
        val picks = scala.collection.mutable.ArrayBuffer((seed, 1, 1000000L))
        val chosen = scala.collection.mutable.Set[Any](seed.cand)
        val ms = scala.collection.mutable.Map[Any, Long]()
        var newest = seed
        for (j <- 2 to k) {
          val rem = cands.filter(cd => !chosen.contains(cd.cand))
          if (rem.nonEmpty) {
            rem.foreach { cd =>
              val s = sim6(cd, newest)
              if (!ms.get(cd.cand).exists(_ >= s)) ms(cd.cand) = s
            }
            // (maxsim ASC, cand ASC) argmin; reduce keeps the FIRST best
            val pick = rem.reduceLeft { (x, y) =>
              val sx = ms(x.cand); val sy = ms(y.cand)
              if (sy < sx || (sy == sx && ord.lt(y.cand, x.cand))) y else x
            }
            picks += ((pick, j, ms(pick.cand)))
            chosen += pick.cand
            newest = pick
          }
        }
        val spark = corpus.sparkSession
        val schema = StructType(Seq(
          StructField("center_id", c.schema("cand").dataType),
          StructField("pick", IntegerType, nullable = false),
          StructField("maxsim6", LongType, nullable = false)))
        c.unpersist()
        import scala.jdk.CollectionConverters._
        return spark.createDataFrame(
          picks.toSeq.map { case (cd, p, m) =>
            org.apache.spark.sql.Row(cd.cand, p, m) }.asJava,
          schema)
      }
    }
    val a = c.select(col("cand").as("c1"), col("cv").as("v1"), col("cn").as("n1"))
    val b = c.select(col("cand").as("c2"), col("cv").as("v2"), col("cn").as("n2"))
    val sims = a.join(b, col("c1") =!= col("c2"))
      .withColumn("sim6",
        round(dotFixed(col("v1"), col("v2")) / (col("n1") * col("n2"))
          * lit(1e6)).cast(LongType))
      .select("c1", "c2", "sim6")
      .localCheckpoint() // consumed once per greedy round
    var selected = c.agg(min(col("cand")).as("cand"))
      .select(col("cand"), lit(1).as("pick"), lit(1000000L).as("maxsim6"))
      .localCheckpoint()
    for (j <- 2 to k) {
      // distributed TakeOrdered, not a single-partition window: the
      // argmin is (maxsim ASC, cand ASC) over candidate-scale rows
      val next = sims
        .join(selected.select(col("cand").as("c2")), Seq("c2"))
        .groupBy(col("c1").as("cand")).agg(max("sim6").as("maxsim6"))
        .join(selected.select("cand"), Seq("cand"), "left_anti")
        .orderBy(col("maxsim6").asc, col("cand").asc)
        .limit(1)
        .select(col("cand"), lit(j).as("pick"), col("maxsim6"))
      val prev = selected
      selected = prev.union(next).localCheckpoint()
      prev.unpersist()
    }
    c.unpersist()
    sims.unpersist()
    selected.select(col("cand").as("center_id"), col("pick"), col("maxsim6"))
  }

  /** INT8-quantized brute-force top-k — the retrieval half of
    * [[quantizeInt8]]: the corpus scan reads int8 codes + one scale per
    * vector (4× less bandwidth than floats), the approximate score is the
    * INTEGER dot of the code arrays (64 dims × 127² keeps every partial
    * inside 32 bits; the fold accumulates in long — exact, associative,
    * deterministic at any parallelism) times qscale·cscale, and the top
    * k·`refine` candidates per query re-rank on the true floats fetched
    * by an equi-join on id (the floats never travel during the scan).
    * Broadcast queries, one corpus pass, the only shuffles the per-query
    * top-k windows over candidate-sized frames. Approximate ⇒ rows-only;
    * recall floor lives in AnnRecallSpec. */
  def cosineTopKInt8(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, refine: Int = 5): DataFrame = {
    import graft.plans.FloatVectorExpressions.{dot, norm}
    def codes(df: DataFrame, outId: String, p: String): DataFrame =
      int8Encoded(df, idCol, vecCol)
        .select(col(idCol).as(outId), col("scale").as(p + "scale"),
          col("codes").as(p + "codes"))
    def sumSq(c: Column): Column =
      aggregate(transform(c, x => (x * x).cast(LongType)),
        lit(0L), (acc, x) => acc + x)
    val q = broadcast(codes(queries, "query_id", "q"))
    // rank key = intdot / √(Σ ccode²): the code-domain cosine up to the
    // per-QUERY constant |q| (which can't reorder one query's candidates)
    // — the corpus scale cancels between numerator and ‖c‖ ≈ cscale·√Σc²,
    // so unlike a raw dot the ranking survives heterogeneous vector norms
    // (the PQ path's adot/(qnorm·√vsq) correction, in integer form)
    val approx = codes(corpus, "neighbor_id", "c")
      .join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("approx",
        aggregate(zip_with(col("qcodes"), col("ccodes"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).cast(DoubleType) /
          sqrt(greatest(sumSq(col("ccodes")).cast(DoubleType), lit(1d))))
    val wa = Window.partitionBy("query_id")
      .orderBy(col("approx").desc, col("neighbor_id").asc)
    val cand = approx.withColumn("__r", row_number().over(wa))
      .filter(col("__r") <= k * refine)
      .select("query_id", "neighbor_id")
    val qf = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qnorm", norm(col("qv"))))
    val side = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .withColumn("nnorm", norm(col("nv")))
    val scored = cand.join(qf, Seq("query_id")).join(side, Seq("neighbor_id"))
      .withColumn("cosine", round(
        dot(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Symmetric per-vector INT8 quantization — the 4× embedding-storage
    * compression every large vector corpus ships with (float32 → int8 +
    * one float scale per vector): scale = max|x|/127, q_i = trunc(x_i /
    * scale) ∈ [−127, 127]. Deterministic and cross-engine exact: the max
    * is order-free, the scale is one IEEE divide of an exact float, and
    * trunc-toward-zero is Spark's double→int cast == DuckDB's trunc() —
    * no rounding ties to argue about (unlike round(), whose half-away
    * cases differ per engine). All-zero vectors quantize to zeros
    * (scale 0 guard). Output exploded to (id, pos 1-based, q, scale)
    * scalars so the driver can hash it; one narrow projection, no
    * shuffle at any corpus size. */
  /** The one place the int8 quantization contract lives: per-vector
    * symmetric scale max|x|/127 and trunc-toward-zero codes (zero vectors
    * → zero codes). Output: (idCol, scale, codes). [[quantizeInt8]]
    * explodes it; [[cosineTopKInt8]] scans it. */
  private def int8Encoded(df: DataFrame, idCol: String,
                          vecCol: String): DataFrame = {
    val scale = array_max(transform(col(vecCol), x => abs(x)))
      .cast(DoubleType) / lit(127.0)
    df.select(col(idCol), scale.as("scale"),
      when(scale === 0d, transform(col(vecCol), _ => lit(0)))
        .otherwise(transform(col(vecCol),
          x => (x.cast(DoubleType) / scale).cast(IntegerType)))
        .as("codes"))
  }

  def quantizeInt8(corpus: DataFrame, idCol: String,
                   vecCol: String): DataFrame =
    int8Encoded(corpus, idCol, vecCol)
      .select(col(idCol), col("scale"), posexplode(col("codes")))
      .select(col(idCol), (col("pos") + 1).cast(LongType).as("pos"),
        col("col").as("q"), col("scale"))

  /** Deterministic ±1 sign matrix for [[randomProject]]: `outDims` rows of
    * `dims` signs from one fixed-seed PRNG. A few KB of literals regenerated
    * identically everywhere — shared by the Spark expression AND the
    * generated oracle SQL (OracleSql embeds the same rows), the
    * [[planes]] pattern. */
  def projectionSigns(outDims: Int, dims: Int, seed: Long = 47L): Array[Array[Int]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(outDims)(Array.fill(dims)(if (rng.nextBoolean()) 1 else -1))
  }

  /** RANDOM PROJECTION (Johnson–Lindenstrauss, Achlioptas ±1 variant):
    * project `dims`-dim embeddings to `outDims` dims as
    * y_k = Σ_j sign(k,j)·x_j / √outDims — the 4× (64→16) embedding
    * compression pass before clustering/dedup/ANN at 100 TB, where pairwise
    * geometry survives within the JL distortion bound but every downstream
    * scan reads a quarter of the bytes. A pure per-row projection: no
    * shuffle, no state, codegen'd long folds.
    *
    * Each product lands on the shared 1e-13 fixed-point grid ([[dotFixed]]'s
    * ruling) so the sum is exact and associative, and the output rounds to
    * 6 dp — bit-identical across engines, partitionings, and parallelism:
    * an oracle-replayable stochastic-matrix op. Output exploded to
    * (id, out_pos, value) scalars for hashing. */
  def randomProject(corpus: DataFrame, idCol: String, vecCol: String,
                    outDims: Int, dims: Int = 64,
                    seed: Long = 47L): DataFrame = {
    val signs = projectionSigns(outDims, dims, seed)
    val invRoot = 1.0 / math.sqrt(outDims.toDouble)
    val comps = signs.map { row =>
      round(
        aggregate(
          zip_with(col(vecCol), typedlit(row.toSeq),
            (x, s) => floor(x.cast(DoubleType) * s.cast(DoubleType) * lit(1e13))),
          lit(0L), (acc, x) => acc + x)
          .cast(DoubleType) / lit(1e13) * lit(invRoot), 6)
    }
    corpus.select(col(idCol), posexplode(array(comps.toIndexedSeq: _*)))
      .select(col(idCol), (col("pos") + 1).cast(LongType).as("out_pos"),
        col("col").as("value"))
  }

  /** All-pairs exact variant of [[cosineNearDups]] — O(n²); the ground truth
    * for recall measurement and the right tool only for small corpora. */
  def cosineNearDupsExact(corpus: DataFrame, idCol: String, vecCol: String,
                          threshold: Double): DataFrame = {
    import graft.plans.FloatVectorExpressions.dot
    val side = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", graft.plans.FloatVectorExpressions.norm(col("v")))
    val a = side.alias("a")
    val b = side.alias("b")
    a.join(b, col("a.id") < col("b.id"))
      .withColumn("cosine", round(
        dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }
}
