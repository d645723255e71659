package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Cosine math is done in DOUBLE with strict left-to-right accumulation
  * (`aggregate` over `zip_with`) — bit-identical to DuckDB's
  * `list_cosine_similarity(::DOUBLE[], ::DOUBLE[])`, which makes the results
  * oracle-verifiable with no tolerance games.
  *
  * Scale paths: brute-force top-k is one broadcast + map + partial top-k per
  * partition (TakeOrderedAndProject — no full sort, no shuffle of the corpus).
  * The LSH path (random-hyperplane signatures + band buckets) bounds the
  * rerank set for corpus-×-corpus workloads at 100 TB.
  */
object Similarity {

  import org.apache.spark.sql.graftshim.Shim

  /** Native codegen'd dot product (see [[SimilarityExpressions]] — the HOF
    * formulation `aggregate(zip_with(...))` is interpreted per element). */
  def dot(a: Column, b: Column): Column =
    Shim.column(VectorDot(Shim.expression(a), Shim.expression(b)))

  /** Native codegen'd cosine, one fused pass over both vectors. Bit-identical
    * to DuckDB `list_cosine_similarity(::DOUBLE[], ::DOUBLE[])`. */
  def cosine(a: Column, b: Column): Column =
    Shim.column(CosineSimilarity(Shim.expression(a), Shim.expression(b)))

  /** Brute-force exact top-k by cosine against one query vector. */
  def cosineTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                 query: Seq[Float], k: Int, excludeId: Option[Long] = None): DataFrame = {
    val q = array(query.map(lit): _*)
    val base = excludeId.map(e => embeddings.filter(col(idCol) =!= e))
      .getOrElse(embeddings)
    base.select(col(idCol),
        round(cosine(col(vecCol), q), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** All pairs with cosine ≥ threshold. Exact (block-nested-loop via cross
    * join) — the verification path; use [[annCandidates]] + rerank at scale. */
  def cosinePairs(embeddings: DataFrame, idCol: String, vecCol: String,
                  threshold: Double): DataFrame = {
    val e = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
    e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .withColumn("sim", cosine(col("a.v"), col("b.v")))
      .filter(col("sim") >= threshold)
      .select(col("a.id").as("a"), col("b.id").as("b"),
        round(col("sim"), 6).as("sim"))
      .orderBy("a", "b")
  }

  /** Deterministic pseudo-random hyperplanes (fixed seed). Exposed so the
    * correctness oracle can replay the exact signature math. */
  private[graft] def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits, dim)(rnd.nextGaussian())
  }

  /** Random-hyperplane LSH signature (nBits-bit integer). [[VectorDot]]
    * casts float elements to double itself — same math as before, native. */
  def rhpSignature(vec: Column, nBits: Int, dim: Int): Column = {
    val planes = hyperplanes(nBits, dim)
    (0 until nBits).map { i =>
      val plane = array(planes(i).toIndexedSeq.map(lit): _*)
      when(dot(vec, plane) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Driver-side signature of a single query vector — pure Scala, identical
    * IEEE double ops to [[rhpSignature]]'s codegen (cast-to-double, per-element
    * multiply, left-fold add), so the signatures agree bit-for-bit. No Spark
    * job: the query vector and planes are both driver-local. */
  private[graft] def rhpSignatureLocal(vec: Seq[Float], nBits: Int): Long = {
    val planes = hyperplanes(nBits, vec.length)
    (0 until nBits).map { i =>
      var acc = 0.0
      var j = 0
      while (j < vec.length) { acc += vec(j).toDouble * planes(i)(j); j += 1 }
      if (acc > 0) 1L << i else 0L
    }.sum
  }

  /** LSH index build: one row per (band, bucket) per vector — the
    * materialized form a query joins against. Written with
    * `partitionBy("band","bucket")` this becomes a physically-pruned layout:
    * a query touches only its `bands` matching partitions, never the corpus.
    * The vector rides along so the rerank needs no second corpus join. */
  def annIndex(embeddings: DataFrame, idCol: String, vecCol: String,
               nBits: Int = 16, bandBits: Int = 4): DataFrame = {
    require(nBits % bandBits == 0, s"nBits=$nBits not divisible by bandBits=$bandBits")
    val dim = embeddings.select(size(col(vecCol))).head().getInt(0)
    val bands = nBits / bandBits
    val mask = (1L << bandBits) - 1
    val sigged = embeddings.withColumn("__sig", rhpSignature(col(vecCol), nBits, dim))
    val bandRows = explode(array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("__sig"), b * bandBits).bitwiseAND(mask).as("bucket"))
    }: _*))
    sigged.select(col(idCol), col(vecCol), bandRows.as("bb"))
      .select(col(idCol), col(vecCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Query the materialized LSH index: the query's signature is computed
    * driver-side (no job), its `bands` (band, bucket) pairs become literal
    * predicates — on a `partitionBy("band","bucket")` layout that is partition
    * pruning, not a scan — then candidates are deduped and exactly reranked.
    * Candidate cost is |bucket| × bands, independent of corpus size. */
  def annTopKIndexed(index: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Float], k: Int, nBits: Int = 16, bandBits: Int = 4,
                     excludeId: Option[Long] = None): DataFrame = {
    val qSig = rhpSignatureLocal(query, nBits)
    val bands = nBits / bandBits
    val mask = (1L << bandBits) - 1
    val hit = (0 until bands).map { b =>
      col("band") === b && col("bucket") === ((qSig >> (b * bandBits)) & mask)
    }.reduce(_ || _)
    val base = excludeId.map(e => index.filter(col(idCol) =!= e)).getOrElse(index)
    base.filter(hit)
      .groupBy(col(idCol)).agg(first(col(vecCol)).as(vecCol))
      .select(col(idCol),
        round(cosine(col(vecCol), array(query.map(lit): _*)), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** LSH approximate top-k, building the band index inline. Convenience for
    * one-shot queries; repeated serving should materialize [[annIndex]]
    * partitioned by (band, bucket) and call [[annTopKIndexed]] so the bucket
    * probe is physical partition pruning rather than a corpus pass. */
  def annTopK(embeddings: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], k: Int, nBits: Int = 16, bandBits: Int = 4,
              excludeId: Option[Long] = None): DataFrame =
    annTopKIndexed(annIndex(embeddings, idCol, vecCol, nBits, bandBits),
      idCol, vecCol, query, k, nBits, bandBits, excludeId)

  /** DuckDB replay of [[annTopK]] — the hyperplanes are seed-fixed, so the
    * whole pipeline (sign-bit signatures → band match → exact rerank) is
    * deterministic and oracle-able. The generated SQL embeds the plane
    * constants as literals and mirrors the Spark arithmetic exactly:
    * float→double casts, per-element multiply, left-to-right addition. */
  def annTopKOracleSql(table: String, idCol: String, vecCol: String,
                       queryIdSql: String, k: Int, nBits: Int = 16,
                       bandBits: Int = 4): String = {
    val dim = 64 // TESTDATA embeddings dimension; see TESTDATA.md
    val planes = hyperplanes(nBits, dim)
    def sigExpr(v: String): String =
      (0 until nBits).map { i =>
        val dotChain = (0 until dim)
          .map(j => s"$v[${j + 1}]::DOUBLE * (${planes(i)(j)})").mkString(" + ")
        s"(CASE WHEN ($dotChain) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("(", " + ", ")::BIGINT")
    val bands = nBits / bandBits
    val mask = (1L << bandBits) - 1
    val bandMatch = (0 until bands)
      .map(b => s"((s.sig >> ${b * bandBits}) & $mask) = ((q.sig >> ${b * bandBits}) & $mask)")
      .mkString(" OR ")
    s"WITH qv AS (SELECT $vecCol AS e FROM $table WHERE $idCol = $queryIdSql), " +
      s"qsig AS (SELECT ${sigExpr("e")} AS sig FROM qv), " +
      s"sigs AS (SELECT $idCol, $vecCol, ${sigExpr(vecCol)} AS sig FROM $table " +
      s"WHERE $idCol <> $queryIdSql) " +
      s"SELECT s.$idCol, round(list_cosine_similarity(s.$vecCol::DOUBLE[], " +
      s"(SELECT e FROM qv)::DOUBLE[]), 6) AS sim FROM sigs s, qsig q " +
      s"WHERE $bandMatch ORDER BY sim DESC, s.$idCol LIMIT $k"
  }

  // -------------------------------------------------------------------- IVF

  /** Deterministic, PARTITIONING-INDEPENDENT fit sample: the `target` rows
    * with the smallest `xxhash64(key)` (ties broken on `key` itself), so the
    * sample — and every centroid fitted from it — is a pure function of the
    * DATA, not of file layout, partition count, or scan order. The previous
    * partition-ordinal filter made quantizer fits (and therefore ANN recall)
    * shift between boxes whose partitioning differed — the round-10
    * SURVEY-vs-artifact recall gap.
    *
    * Shape at 100 TB: one cheap `count` (metadata-only on parquet) sizes a
    * map-side hash GATE that passes ~4·target rows — the exact top-`target`
    * sort then runs over that bounded set, never the corpus. Without the
    * gate, per-partition top-K feeding a single merge task grows with
    * partition count (parts × target rows through one task). */
  private[graft] def fitSample(df: DataFrame, key: Column, target: Long): DataFrame = {
    val n = df.count()
    // both branches end in sort+limit: ONE partition, one row order, on any
    // input partitioning — distributed k-means|| init and driver-side
    // k-means++ both draw by position, so order is part of determinism
    if (n <= target) df.orderBy(xxhash64(key), key).limit(math.max(1L, n).toInt)
    else {
      val threshold = math.max(1L, math.ceil(4.0e6 * target / n).toLong)
      df.filter(pmod(xxhash64(key), lit(1000000L)) < threshold)
        .orderBy(xxhash64(key), key).limit(target.toInt)
    }
  }

  /** IVF index build: k-means coarse quantizer; every vector is assigned to
    * its nearest centroid cell (the `cell` column). The billion-scale ANN
    * layout: the assignment is a one-time distributed job, cells become the
    * partition/pruning key, and a query touches ~|corpus|·nProbe/nCells rows
    * instead of the full scan. Returns (assigned corpus, centroids).
    *
    * The quantizer FIT runs on a bounded sample (`fitPointsPerCell` × nCells
    * rows): centroid quality saturates at a few hundred points per cell, so
    * iterating k-means over the full corpus — a multi-pass job over 100 TB —
    * buys nothing. The full corpus is assigned exactly once by the model
    * transform. The sample is [[fitSample]] keyed on `idCol` — identical
    * rows in identical order on ANY box/partitioning, so for a fixed seed
    * the centroids (and downstream recall) are reproducible, not a band. */
  def ivfIndex(embeddings: DataFrame, idCol: String, vecCol: String,
               nCells: Int, seed: Long = 42L,
               fitPointsPerCell: Int = 256): (DataFrame, Array[Array[Double]]) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feat = embeddings.withColumn("__feat",
      array_to_vector(transform(col(vecCol), x => x.cast("double"))))
    val target = fitPointsPerCell.toLong * nCells
    val fitSet = fitSample(feat, col(idCol), target)
    val model = new KMeans().setK(nCells).setSeed(seed)
      .setFeaturesCol("__feat").setPredictionCol("cell").fit(fitSet)
    val assigned = model.transform(feat).drop("__feat")
    (assigned, model.clusterCenters.map(_.toArray))
  }

  /** Assign vectors to their nearest EXISTING centroid cell — the
    * incremental-ingest path: newly arrived vectors join a built IVF(-PQ)
    * layout without refitting the coarse quantizer (FAISS `add()`
    * semantics). Assignment is the same argmin-L2 the build's KMeans
    * transform uses ([[NearestCells]] ranks by `dot − |c|²/2`).
    * Distribution drift degrades RECALL slowly (re-train when it matters);
    * it never breaks correctness — residuals reconstruct from the STORED
    * assignment and the exhaustive configuration stays exact. */
  def assignCells(embeddings: DataFrame, vecCol: String,
                  centroids: Array[Array[Double]]): DataFrame =
    embeddings.withColumn("cell",
      element_at(Shim.column(NearestCells(
        Shim.expression(col(vecCol)), centroids, 1)), 1))

  /** SemDeDup-style semantic deduplication: connected components over the
    * cosine ≥ threshold pair graph of an embedding column, labeling each
    * vector with its cluster root (min id) — feed the result to
    * [[Dedup.dedupKeepOne]] to drop all but one representative per cluster.
    *
    * Pair stage: exact all-pairs by default (the verification-scale path,
    * O(n²) — fine for an eval set, not a corpus). `nCells = Some(k)` bounds
    * it the way SemDeDup does at scale: k-means cells from [[ivfIndex]],
    * pairwise only WITHIN a cell — per-cell cost (n·m/k)² and the self-join
    * co-partitions on `cell`. Each vector joins its `mAssign` NEAREST cells
    * (multi-assignment): a pair straddling one cell boundary is still
    * co-located when their cell sets overlap, which is what rescues
    * borderline-similarity pairs (single-assignment forfeits most of them —
    * measured in PipelineSpec). Cross-all-cells pairs are still forfeited,
    * the accepted SemDeDup tradeoff. Cluster propagation runs over the PAIR
    * set either way ([[Dedup.duplicateClusters]] — near-dup pair sets are
    * orders of magnitude smaller than the corpus).
    *
    * The exact path REFUSES corpora above `maxExactRows` (one cheap count
    * job, metadata-only on a raw parquet scan) rather than silently running
    * the O(n²) self-join: auto-switching to cells would silently change
    * which pairs exist, and at corpus scale the all-pairs plan is not slow
    * but non-terminating. Callers that really mean it raise the cap. */
  def semanticClusters(embeddings: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, nCells: Option[Int] = None,
                       mAssign: Int = 2,
                       maxExactRows: Long = 1000000L): DataFrame = {
    val pairs = nCells match {
      case None =>
        val n = embeddings.count()
        require(n <= maxExactRows,
          s"semanticClusters: exact all-pairs over $n rows exceeds " +
            s"maxExactRows=$maxExactRows and would be O(n²) at corpus " +
            "scale; pass nCells=Some(k) for the cell-bounded SemDeDup " +
            "path (or raise maxExactRows for an eval-set-sized corpus)")
        cosinePairs(embeddings, idCol, vecCol, threshold)
      case Some(k) =>
        require(mAssign >= 1 && mAssign <= k, s"mAssign out of range: $mAssign")
        val (_, centroids) = ivfIndex(embeddings, idCol, vecCol, k)
        // argmin-m ||v − c||² = argmax-m (v·c − |c|²/2): one codegen'd
        // primitive pass over all centroids per row ([[NearestCells]] — the
        // centroid matrix is plan DATA, not k·dim expression nodes)
        val e = embeddings
          .select(col(idCol).as("id"), col(vecCol).as("v"))
          .withColumn("cell", explode(Shim.column(
            NearestCells(Shim.expression(col("v")), centroids, mAssign))))
          .select(col("cell"), col("id"), col("v"))
        e.as("a")
          .join(e.as("b"),
            col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
          .withColumn("sim", cosine(col("a.v"), col("b.v")))
          .filter(col("sim") >= threshold)
          // a pair sharing several cells appears once per shared cell
          .select(col("a.id").as("a"), col("b.id").as("b")).distinct()
    }
    Dedup.duplicateClusters(pairs.select("a", "b"))
  }

  /** IVF query: rank cells by centroid distance on the driver (centroid set
    * is tiny), probe the nProbe nearest, exact-cosine rerank inside them.
    * nProbe = nCells degenerates to exhaustive search (recall 1). */
  /** The nProbe cells nearest the query, ranked by centroid L2 on the
    * driver (the centroid set is tiny) — shared by [[ivfTopK]] and
    * [[ivfPqTopK]]. */
  private[graft] def probeCellsFor(centroids: Array[Array[Double]],
                            query: Seq[Float], nProbe: Int): Array[Int] = {
    val q = query.map(_.toDouble).toArray
    def dist2(c: Array[Double]): Double =
      c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum
    centroids.zipWithIndex
      .sortBy { case (c, i) => (dist2(c), i) }
      .take(nProbe).map(_._2)
  }

  def ivfTopK(assigned: DataFrame, centroids: Array[Array[Double]],
              idCol: String, vecCol: String, query: Seq[Float], k: Int,
              nProbe: Int, excludeId: Option[Long] = None): DataFrame = {
    val probeCells = probeCellsFor(centroids, query, nProbe)
    val base = excludeId.map(e => assigned.filter(col(idCol) =!= e))
      .getOrElse(assigned)
    base.filter(col("cell").isin(probeCells.toIndexedSeq: _*))
      .select(col(idCol),
        round(cosine(col(vecCol), array(query.map(lit): _*)), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  // --------------------------------------------------- product quantization

  /** PQ codebook training (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011): the vector space is split into `m`
    * subspaces of `dim/m` dims, each quantized independently by its own
    * k-means codebook of `k` centroids. A vector is then `m` small codes
    * (k ≤ 256 → one byte each) plus its exact norm — the compressed scan
    * layout that makes 100 TB of fp32 embeddings ANN-searchable from a few
    * hundred GB of codes.
    *
    * Fit runs on the same bounded partitioning-independent [[fitSample]] as
    * [[ivfIndex]] (`fitPointsPerCentroid`·k rows), keyed on the vector
    * CONTENT (pqTrain's input may be a projected residual frame with no id
    * column — hashing the vector itself keeps the sample a pure function of
    * the data). The sample is BOUNDED BY CONSTRUCTION (a few thousand rows
    * whatever the corpus size), so it is collected once and all m codebooks
    * fit DRIVER-LOCAL with seeded k-means++ / Lloyd's — m distributed
    * KMeans jobs over a 2k-row frame are pure scheduler overhead (measured
    * ~30 s of it; local fit is milliseconds), and the local fit is
    * deterministic for fixed seed and sample — on ANY box or partitioning.
    * Returns `codebooks(i)(j)` = centroid j of subspace i. */
  def pqTrain(embeddings: DataFrame, vecCol: String, dim: Int, m: Int,
              k: Int, seed: Long = 42L,
              fitPointsPerCentroid: Int = 64): Array[Array[Array[Double]]] = {
    require(m >= 1 && dim % m == 0, s"dim=$dim not divisible by m=$m")
    val sub = dim / m
    val target = fitPointsPerCentroid.toLong * k
    val rows = fitSample(embeddings.select(
        transform(col(vecCol), x => x.cast("double")).as("__v")),
        col("__v"), target)
      .select("__v")
      .collect().map(_.getSeq[Double](0).toArray)
    // fail HERE, naming the real problem — empty codebooks otherwise crash
    // far from the cause inside pqEncode (codebooks.map(_.head))
    require(rows.nonEmpty, "pqTrain: no rows to fit codebooks " +
      "(empty or fully filtered input)")
    // the m subspace fits are independent pure-CPU work; run them on the
    // driver's cores in parallel (at k=256 a serial pass is ~m× 25 Lloyd
    // iterations over the 64·k sample — tens of seconds for nothing)
    java.util.stream.IntStream.range(0, m).parallel().mapToObj[Array[Array[Double]]] { i =>
      val pts = rows.map(v => java.util.Arrays.copyOfRange(v, i * sub, (i + 1) * sub))
      localKMeans(pts, k, seed + i)
    }.toArray(n => new Array[Array[Array[Double]]](n))
  }

  /** Seeded k-means++ init + Lloyd's iterations, driver-local, for the
    * bounded PQ fit sample. Deterministic: weighted init draws from a
    * seeded RNG, assignment ties break on the lower centroid index, empty
    * clusters keep their previous centroid. May return < k centroids when
    * the sample has < k distinct points. */
  private def localKMeans(pts: Array[Array[Double]], k: Int,
                          seed: Long): Array[Array[Double]] = {
    if (pts.isEmpty) return Array.empty
    val rnd = new scala.util.Random(seed)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val centers = scala.collection.mutable.ArrayBuffer(
      pts(rnd.nextInt(pts.length)).clone())
    val minD = pts.map(d2(_, centers(0)))
    var exhausted = false
    while (centers.size < k && !exhausted) {
      val total = minD.sum
      if (total <= 0) exhausted = true // < k distinct points
      else {
        var r = rnd.nextDouble() * total
        var idx = 0
        while (idx < pts.length - 1 && r >= minD(idx)) { r -= minD(idx); idx += 1 }
        centers += pts(idx).clone()
        var i = 0
        while (i < pts.length) {
          val d = d2(pts(i), centers.last)
          if (d < minD(i)) minD(i) = d
          i += 1
        }
      }
    }
    val cs = centers.toArray
    val assign = new Array[Int](pts.length)
    var moved = true
    var iter = 0
    while (moved && iter < 25) {
      moved = false
      var i = 0
      while (i < pts.length) {
        var best = 0; var bd = d2(pts(i), cs(0)); var j = 1
        while (j < cs.length) {
          val d = d2(pts(i), cs(j))
          if (d < bd) { bd = d; best = j }
          j += 1
        }
        if (assign(i) != best || iter == 0) { assign(i) = best; moved = true }
        i += 1
      }
      if (moved) {
        val sums = Array.fill(cs.length)(new Array[Double](cs(0).length))
        val ns = new Array[Int](cs.length)
        var p = 0
        while (p < pts.length) {
          val a = assign(p); ns(a) += 1
          var d = 0
          while (d < pts(p).length) { sums(a)(d) += pts(p)(d); d += 1 }
          p += 1
        }
        var c = 0
        while (c < cs.length) {
          if (ns(c) > 0) {
            var d = 0
            while (d < cs(c).length) { cs(c)(d) = sums(c)(d) / ns(c); d += 1 }
          } // empty cluster keeps its previous centroid
          c += 1
        }
      }
      iter += 1
    }
    cs
  }

  /** PQ encode: one embarrassingly parallel map pass producing
    * `(id, code BINARY, vnorm)` — the m-byte code word via the single
    * codegen'd [[PqCodes]] primitive (codebook tensor is plan data; no
    * per-subspace slicing), plus the EXACT vector norm so cosine can be
    * reconstructed from approximate dot products without a second corpus
    * pass. The code table is what gets stored/scanned at serving time:
    * m+8 bytes per vector instead of 4·dim. */
  def pqEncode(embeddings: DataFrame, idCol: String, vecCol: String, dim: Int,
               codebooks: Array[Array[Array[Double]]],
               keep: Seq[String] = Nil): DataFrame = {
    require(codebooks.map(_.head.length).sum == dim,
      s"codebook subspace dims ${codebooks.map(_.head.length).toSeq} do not cover dim=$dim")
    embeddings.select(col(idCol) +: keep.map(col) :+
      Shim.column(PqCodes(Shim.expression(col(vecCol)), codebooks)).as("code") :+
      sqrt(dot(col(vecCol), col(vecCol))).as("vnorm"): _*)
  }

  /** PQ query with asymmetric distance computation (ADC) + exact rerank:
    * the per-subspace table of query·centroid dot products is computed on
    * the DRIVER (m·k doubles) and inlined as literal arrays, so the corpus
    * scan is `m` codegen'd `element_at`s + adds per row over the code
    * column ONLY — column pruning keeps the fat vector column untouched.
    * approx cos = Σᵢ table(i)(codeᵢ) / (|q|·vnorm); the `shortlist` best by
    * approx score (TakeOrderedAndProject — per-partition partial top-k, no
    * corpus sort) broadcast-join back to the original vectors for exact
    * rerank. `shortlist` ≥ corpus size degenerates to exact brute force
    * (recall 1) — the oracle-verification configuration, same trick as
    * [[ivfTopK]]'s exhaustive probe. `adcOffset` is added to the approx
    * dot before normalization — the residual-IVF-PQ hook ([[ivfPqTopK]]
    * passes the per-cell `q·centroid` term there; codes then only carry
    * the residual, whose quantization error is what's left). */
  /** The ADC shortlist frame — the ids of the `shortlist` best codes by
    * approximate score. Factored out of [[pqTopK]] so its plan shape (the
    * CODE-table-only scan: id, code, vnorm — never the vector column) is
    * assertable by specs now that pqTopK materializes it eagerly for the
    * isin rerank. */
  private[graft] def pqShortlist(codes: DataFrame, idCol: String,
      tables: Array[Array[Double]], qnorm: Double, shortlist: Int,
      excludeId: Option[Long], adcOffset: Column): DataFrame = {
    val adcDot = Shim.column(AdcScore(Shim.expression(col("code")), tables))
    val base = excludeId.map(e => codes.filter(col(idCol) =!= e))
      .getOrElse(codes)
    base
      .select(col(idCol),
        ((adcOffset + adcDot) / (col("vnorm") * qnorm)).as("__adc"))
      .orderBy(col("__adc").desc, col(idCol).asc)
      .limit(shortlist)
      .select(idCol)
  }

  /** Query-side ADC tables: per subspace, the dot product of the query
    * slice with every codebook centroid. */
  private[graft] def adcTables(codebooks: Array[Array[Array[Double]]],
      query: Seq[Float]): Array[Array[Double]] = {
    val m = codebooks.length
    val sub = query.size / m
    val q = query.map(_.toDouble).toArray
    codebooks.zipWithIndex.map { case (cb, i) =>
      cb.map(c => c.zip(q.slice(i * sub, (i + 1) * sub))
        .map { case (a, b) => a * b }.sum)
    }
  }

  /** Largest shortlist the rerank re-attaches as an `isin` predicate.
    * Defaults to the session's ACTUAL parquet inFilterThreshold: past that
    * many values Spark degrades the In predicate to a [min,max] range
    * before parquet sees it, and the rerank would scan like the join did
    * but without the join's locality — deriving the bound keeps the two
    * knobs from drifting apart. The threshold is read with no literal
    * fallback, so an unset key yields Spark's registered default. */
  private[graft] def rerankIsinMax(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.ann.rerankIsinMax")
      .getOrElse(spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold"))
      .toInt

  /** EAGER for serving-sized shortlists: when `shortlist` ≤
    * `spark.graft.ann.rerankIsinMax`, CONSTRUCTING this frame runs one
    * bounded Spark job (the shortlist collect) and snapshots the candidate
    * ids at build time — code-table rows arriving between construction and
    * execution are not seen (the serving path constructs-and-executes in
    * one breath; exhaustive/oracle configs with larger shortlists keep the
    * fully lazy broadcast-join plan). This is the price of re-attaching
    * the candidates as an `isin` predicate the parquet scan can prune by. */
  def pqTopK(codes: DataFrame, original: DataFrame, idCol: String,
             vecCol: String, codebooks: Array[Array[Array[Double]]],
             query: Seq[Float], k: Int, shortlist: Int,
             excludeId: Option[Long] = None,
             adcOffset: Column = lit(0.0)): DataFrame = {
    val m = codebooks.length
    val sub = query.size / m
    require(sub * m == query.size, s"query dim ${query.size} not divisible by m=$m")
    require(codebooks.forall(_.head.length == sub),
      s"codebook subspace dims ${codebooks.map(_.head.length).toSeq} do not " +
        s"match query dim ${query.size} / m=$m")
    val q = query.map(_.toDouble).toArray
    val qnorm = math.sqrt(q.map(x => x * x).sum)
    val short = pqShortlist(codes, idCol, adcTables(codebooks, query), qnorm,
      shortlist, excludeId, adcOffset)
    // Exact-rerank scan shape (r15): a broadcast join of the shortlist
    // cannot push the candidate ids into the raw-vector scan, so the
    // rerank read the ENTIRE original table's bytes — 26 GB at the 100M
    // rehearsal point, the whole corpus at 100 TB — to fetch |shortlist|
    // rows. For serving-sized shortlists the ids are instead collected
    // (one bounded job over the code table, same rows the join's
    // broadcast would have collected anyway) and re-attached as an
    // `isin` PREDICATE, which reaches the parquet scan: on the id-ordered
    // layout parquet row-group/page statistics prune the corpus to the
    // pages holding the candidates (PushedFilters In(vec_id, ...) — see
    // plans/r15/ann_rerank_after.txt; the declared sim_* queries use the
    // exhaustive shortlist≥corpus oracle config and keep the join).
    // Measured at 100M×64f: pq serve
    // 4.6 s → ~2 s. Oversized shortlists (the exhaustive / oracle-replay
    // configs, shortlist ≥ corpus) keep the broadcast-join path — a
    // driver collect there would be corpus-sized.
    val cand =
      if (shortlist <= rerankIsinMax(original.sparkSession)) {
        val ids = short.collect().map(_.get(0)).toIndexedSeq
        // empty shortlist: an empty frame of original's schema — never
        // re-derive `short` through a join (a second ADC job for zero rows)
        if (ids.isEmpty) original.filter(lit(false))
        else original.filter(col(idCol).isin(ids: _*))
      } else original.join(broadcast(short), idCol)
    cand
      .select(col(idCol),
        round(cosine(col(vecCol), array(query.map(lit): _*)), 6).as("sim"))
      // the rerank side may hold the same (id, vec) row more than once
      // (overlapping serving sources after an append replay) — collapse
      // before ranking so top-k never lists an id twice. Shortlist-sized
      // input (≤ |short| · dup rows), so the aggregate is noise next to
      // the candidate scan above it.
      .dropDuplicates(Seq(idCol))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Mean ‖v − centroid(cell)‖ over a bounded deterministic sample — the
    * ANN DRIFT statistic behind [[graft.server.AnnServe]]'s telemetry:
    * stored once at build time, recomputed per appended batch. The ratio
    * of batch to build figure rising above ~1 says the arriving vectors
    * have wandered from the fitted coarse quantizer — partial-probe recall
    * degrades (re-`build` retrains); exhaustive queries stay exact
    * regardless. Sampled by [[fitSample]] on the id column, so the figure
    * is reproducible on any partitioning; cost is one bounded-sample
    * assignment pass, never a corpus scan. */
  def meanResidualNorm(rows: DataFrame, idCol: String, vecCol: String,
                       centroids: Array[Array[Double]],
                       sampleTarget: Long = 65536L): Double =
    assignCells(
        fitSample(rows.select(col(idCol), col(vecCol)), col(idCol), sampleTarget),
        vecCol, centroids)
      .withColumn("__res", residualOf(col(vecCol), col("cell"), centroids))
      .agg(avg(sqrt(dot(col("__res"), col("__res")))))
      .head().getDouble(0)

  /** `v − centroid(cell)` as a pure column expression. The centroid matrix
    * rides as ONE nested-array literal (plan data, not nCells·dim
    * expression nodes), so the subtraction stays inside whole-stage
    * codegen next to [[PqCodes]]. */
  private def residualOf(vecCol: Column, cellCol: Column,
                         centroids: Array[Array[Double]]): Column =
    zip_with(transform(vecCol, x => x.cast("double")),
      element_at(typedLit(centroids.map(_.toSeq).toSeq), cellCol + 1),
      (a, b) => a - b)

  /** Residual PQ encode of cell-assigned vectors (needs a `cell` column,
    * e.g. from [[ivfIndex]] or a streaming [[NearestCells]] pass): codes
    * quantize `v − centroid(cell)`, `vnorm` stays the EXACT norm of the
    * original vector so cosine reconstructs at query time. Stateless and
    * shuffle-free — the same expression works per micro-batch. */
  def ivfPqEncode(assigned: DataFrame, idCol: String, vecCol: String,
                  dim: Int, centroids: Array[Array[Double]],
                  codebooks: Array[Array[Array[Double]]]): DataFrame = {
    require(codebooks.map(_.head.length).sum == dim,
      s"codebook subspace dims ${codebooks.map(_.head.length).toSeq} do not cover dim=$dim")
    assigned.select(col(idCol), col("cell"),
      Shim.column(PqCodes(Shim.expression(
        residualOf(col(vecCol), col("cell"), centroids)), codebooks))
        .as("code"),
      sqrt(dot(col(vecCol), col(vecCol))).as("vnorm"))
  }

  /** IVF-PQ composed build — the canonical billion-scale serving layout
    * (FAISS IVFPQ shape, Jégou 2011 §IV): the coarse quantizer's cell
    * becomes the PHYSICAL partition key (write the result
    * `partitionBy("cell")`) and PQ codes compress within, so a query
    * touches nProbe partitions of m-byte codes instead of the corpus:
    * I/O ≈ |corpus| · (nProbe/nCells) · (m+4)/(4·dim) bytes.
    *
    * Codes are RESIDUAL-encoded: codebooks are trained on and applied to
    * `v − centroid(cell)`, not `v`. The coarse quantizer absorbs the
    * between-cell component of each vector exactly (the query side adds
    * `q·centroid` back as a per-cell ADC offset), so the PQ codebooks
    * spend their k^m capacity on the within-cell spread only — the
    * standard FAISS IVFPQ form, and the difference between 55% and
    * usable recall at a 500-row shortlist on hard vectors.
    * Returns ((id, cell, code, vnorm), cell centroids, codebooks). */
  def ivfPqIndex(embeddings: DataFrame, idCol: String, vecCol: String,
                 dim: Int, nCells: Int, m: Int, k: Int, seed: Long = 42L)
      : (DataFrame, Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val (assigned, centroids) = ivfIndex(embeddings, idCol, vecCol, nCells, seed)
    val codebooks = pqTrain(
      assigned.select(
        residualOf(col(vecCol), col("cell"), centroids).as("__res")),
      "__res", dim, m, k, seed)
    (ivfPqEncode(assigned, idCol, vecCol, dim, centroids, codebooks),
      centroids, codebooks)
  }

  /** IVF-PQ query: probe the nProbe nearest cells (partition pruning on a
    * cell-partitioned layout — the filter is a driver-computed literal
    * list), ADC-score only their codes with the per-cell `q·centroid`
    * residual offset, exact-rerank the shortlist against the original
    * vectors. nProbe = nCells AND shortlist ≥ corpus degenerates to exact
    * brute force. */
  /** The probed, offset-adjusted ADC shortlist of [[ivfPqTopK]] — exposed
    * for plan-shape specs (see [[pqShortlist]]). */
  /** The probed code subset and per-cell ADC offset shared by
    * [[ivfPqShortlist]] and [[ivfPqTopK]] (r15 ADVICE: the two previously
    * duplicated this construction verbatim, so the spec-asserted shortlist
    * frame and the production frame could drift apart). Probing every
    * cell (the exhaustive / nothing-to-prune config) makes the membership
    * filter a per-row nCells-way comparison that can never drop a row —
    * skip it. The q·centroid offsets are driver-computed (the centroid
    * set is tiny) and ride as one small array literal indexed by cell. */
  private def ivfProbe(codes: DataFrame, centroids: Array[Array[Double]],
      query: Seq[Float], nProbe: Int): (DataFrame, Column) = {
    val probeCells = probeCellsFor(centroids, query, nProbe)
    val q = query.map(_.toDouble).toArray
    val qDotC = centroids.map(c =>
      c.zip(q).map { case (a, b) => a * b }.sum).toSeq
    val probed =
      if (probeCells.length >= centroids.length) codes
      else codes.filter(col("cell").isin(probeCells.toIndexedSeq: _*))
    (probed, element_at(typedLit(qDotC), col("cell") + 1))
  }

  private[graft] def ivfPqShortlist(codes: DataFrame, idCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], query: Seq[Float],
      nProbe: Int, shortlist: Int,
      excludeId: Option[Long]): DataFrame = {
    val q = query.map(_.toDouble).toArray
    val qnorm = math.sqrt(q.map(x => x * x).sum)
    val (probed, adcOffset) = ivfProbe(codes, centroids, query, nProbe)
    pqShortlist(probed, idCol, adcTables(codebooks, query), qnorm, shortlist,
      excludeId, adcOffset)
  }

  def ivfPqTopK(codes: DataFrame, original: DataFrame, idCol: String,
                vecCol: String, centroids: Array[Array[Double]],
                codebooks: Array[Array[Array[Double]]], query: Seq[Float],
                k: Int, nProbe: Int, shortlist: Int,
                excludeId: Option[Long] = None): DataFrame = {
    val (probed, adcOffset) = ivfProbe(codes, centroids, query, nProbe)
    pqTopK(probed, original, idCol, vecCol, codebooks, query, k, shortlist,
      excludeId, adcOffset)
  }
}
