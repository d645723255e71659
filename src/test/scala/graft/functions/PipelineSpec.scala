package graft.functions

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sfDir, "documents")
  private lazy val emb = Tables.load(spark, sfDir, "embeddings")

  test("shingles are ordered n-grams, distinct") {
    import spark.implicits._
    val df = Seq((1L, "a b c d a b c d")).toDF("id", "text")
    val sh = df.select(Dedup.shingles(Text.tokens(col("text")), 3)).head().getSeq[String](0)
    assert(sh == Seq("a b c", "b c d", "c d a", "d a b"))
  }

  test("minhash LSH finds the same pairs as exact jaccard") {
    val shingledDocs = Dedup.shingledPosting(docs, "doc_id", "text")
    val exact = Dedup.jaccardPairs(shingledDocs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(shingledDocs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain injected near-dups")
    assert(lsh == exact)
  }

  test("imperative signature aggregate matches the declarative formula") {
    import spark.implicits._
    // merge + serialize paths: force many partitions so partial aggregates
    // shuffle through the buffer serialization before the final merge
    val posting = Seq.tabulate(400)(i => (i.toLong % 7, s"shingle-$i"))
      .toDF("id", "s").repartition(13)
    val viaAgg = Dedup.minhashSignatures(posting, 16)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), (1 to 16).map(r.getLong)))
    // reference: the HOF array formula over the same shingle sets
    val viaArray = posting.groupBy("id").agg(collect_list("s").as("sh"))
      .select(col("id"), Dedup.minhashSignature(col("sh"), 16).as("sig"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toIndexedSeq))
    assert(viaAgg.length == 7)
    viaAgg.zip(viaArray).foreach { case ((idA, sigA), (idB, sigB)) =>
      assert(idA == idB)
      assert(sigA == sigB, s"signature mismatch for id $idA")
    }
  }

  test("minhash signature aggregation plans as HashAggregate (fixed-width " +
      "UnsafeRow buffers), not ObjectHashAggregate") {
    val docs = spark.createDataFrame(Seq(
      (1L, "a b c d e"), (2L, "b c d e f"), (3L, "x y z w q")))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(
      Dedup.shingledPosting(docs, "doc_id", "text"), 128)
    val plan = sig.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") &&
      !plan.contains("ObjectHashAggregate"),
      s"minhash_sig must use the paged UnsafeRow aggregation map:\n$plan")
  }

  test("native GramHashes matches the HOF poly_hash(concat_ws(slice)) " +
    "formulation bit-for-bit (incl. empty/short/multi-space docs)") {
    import spark.implicits._
    import org.apache.spark.sql.graftshim.Shim
    val texts = Seq(
      "a b c d e f g", "a a a a a", "one", "", "  double  spaces  x y z ",
      "unicode é中😀 tail w1 w2 w3 w4",
      "x y z x y z x y z") ++ (0 until 50).map(i =>
      Seq.tabulate(12)(j => s"w${(i * 7 + j) % 9}").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"), Text.tokens(col("text")).as("ts"))
    val n = 5
    val native = df.select(col("id"), explode(
        Shim.column(GramHashes(Shim.expression(col("ts")), n))).as("g"))
      .select(col("id"), col("g.pos"), col("g.gh"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val hof = df.select(col("id"), explode(
        when(size(col("ts")) >= n,
          transform(sequence(lit(1), size(col("ts")) - (n - 1)),
            i => struct(i.as("pos"), Text.fingerprint(
              concat_ws("\u001f", slice(col("ts"), i, lit(n)))).as("gh"))))
          .otherwise(array().cast("array<struct<pos:int,gh:bigint>>"))).as("g"))
      .select(col("id"), col("g.pos"), col("g.gh"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(native == hof)
  }

  test("documents.words via WordShingles(text, 1) equals " +
    "array_distinct(filter(split)) exactly, row by row") {
    val viaTable = docs.select(col("doc_id"), col("words"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    val viaHof = docs.select(col("doc_id"), array_distinct(
        filter(split(col("text"), " "), w => w =!= "")).as("w"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    assert(viaTable.keySet == viaHof.keySet)
    viaTable.foreach { case (id, ws) => assert(ws == viaHof(id), s"doc $id") }
  }

  test("bucketPairScan emits i<j pairs per run, skips over-cap runs") {
    // runs keyed by packed bucket key: 10=[1,2,3] → 3 pairs; 11=[4]
    // singleton → none; 20=[5,6,7,8] over cap 3 → skipped; 21=[9,10] → 1
    val rows = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L), (11L, 4L),
      (20L, 5L), (20L, 6L), (20L, 7L), (20L, 8L),
      (21L, 9L), (21L, 10L))
    val got = Dedup.bucketPairScan(rows.iterator, cap = 3).toSeq
    assert(got == Seq((1L, 2L), (1L, 3L), (2L, 3L), (9L, 10L)))
    // final-run close: last run ends at input exhaustion
    assert(Dedup.bucketPairScan(Seq((5L, 1L), (5L, 2L)).iterator, 3).toSeq
      == Seq((1L, 2L)))
    assert(Dedup.bucketPairScan(Iterator.empty, 3).isEmpty)
    // run of exactly cap length is kept; cap+1 is dropped
    assert(Dedup.bucketPairScan(
      Seq((0L, 1L), (0L, 2L), (0L, 3L)).iterator, 3).size == 3)
    assert(Dedup.bucketPairScan(
      Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).iterator, 3).isEmpty)
  }

  test("minhash LSH: degenerate bucket is capped, not quadratic") {
    import spark.implicits._
    // 300 docs with the SAME text share every band signature — without the
    // bucket cap the candidate join goes quadratic in the bucket size; with
    // the cap the pathological buckets are dropped entirely
    val clones = (1L to 300L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
    val distinctish = (2001L to 2010L).map(i =>
      (i, s"doc $i unique words ${i * 7} and ${i * 13} tail"))
    val posting = Dedup.shingledPosting(
      (clones ++ distinctish).toDF("doc_id", "text"), "doc_id", "text")
    val capped = Dedup.minhashPairs(posting, 0.5, maxBucket = 100)
    assert(capped.count() == 0, "capped run must drop the degenerate bucket")
    // sanity: with the cap above the clone count the pairs come back
    val uncapped = Dedup.minhashPairs(posting, 0.5, maxBucket = 5000)
    assert(uncapped.count() == 300L * 299 / 2)
  }

  test("IVF sample-fit quantizer: exhaustive probe stays exact") {
    // force the sample path (target 10·8=80 << 2000 vectors): whatever
    // centroids the sampled fit produces, nProbe = nCells partitions the
    // corpus, so the exhaustive probe must still equal brute force
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val (assigned, centroids) = Similarity.ivfIndex(
      emb, "vec_id", "embedding", nCells = 8, fitPointsPerCell = 10)
    assert(centroids.length == 8)
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 20, Some(0L))
      .collect().map(_.getLong(0)).toSeq
    val full = Similarity.ivfTopK(assigned, centroids, "vec_id", "embedding",
      q, 20, nProbe = 8, excludeId = Some(0L)).collect().map(_.getLong(0)).toSeq
    assert(full == brute)
  }

  test("quantizer fits are partitioning-independent: identical centroids " +
    "and codebooks on any file layout") {
    // the round-10 recall band came from a partition-ordinal fit sample:
    // different boxes → different partitioning → different centroids →
    // recall 18-20/20 depending on where it ran. The fit sample is now
    // hash-ranked on the DATA, so two arbitrary repartitionings must
    // produce bit-identical centroids (sample path forced: targets << 2000)
    val a = emb.repartition(3)
    val b = emb.repartition(17, col("vec_id"))
    val (_, c1) = Similarity.ivfIndex(a, "vec_id", "embedding",
      nCells = 4, fitPointsPerCell = 8)
    val (_, c2) = Similarity.ivfIndex(b, "vec_id", "embedding",
      nCells = 4, fitPointsPerCell = 8)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq,
      "coarse-quantizer centroids differ across partitionings")
    val cb1 = Similarity.pqTrain(a, "embedding", dim = 64, m = 4, k = 8)
    val cb2 = Similarity.pqTrain(b, "embedding", dim = 64, m = 4, k = 8)
    assert(cb1.map(_.map(_.toSeq).toSeq).toSeq ==
      cb2.map(_.map(_.toSeq).toSeq).toSeq,
      "PQ codebooks differ across partitionings")
  }

  test("simhash of near-duplicate docs is close in hamming distance") {
    val pairs = Dedup.jaccardPairs(Dedup.shingledPosting(docs, "doc_id", "text"), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val hams = pairs.map { case (a, b) =>
      java.lang.Long.bitCount(sh(a) ^ sh(b))
    }
    assert(hams.nonEmpty && hams.forall(_ <= 8),
      s"hamming distances of >0.8-jaccard pairs: ${hams.mkString(",")}")
  }

  test("LSH ANN top-k has high overlap with brute force") {
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 20, Some(0L))
      .collect().map(_.getLong(0)).toSet
    val ann = Similarity.annTopK(emb, "vec_id", "embedding", q, 20, excludeId = Some(0L))
      .collect().map(_.getLong(0)).toSet
    val overlap = (brute & ann).size
    assert(overlap >= 10, s"ANN overlap with brute force: $overlap/20")
  }

  test("IVF: nProbe=nCells equals brute force; partial probe keeps high recall") {
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val (assigned, centroids) =
      Similarity.ivfIndex(emb, "vec_id", "embedding", nCells = 8)
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 20, Some(0L))
      .collect().map(_.getLong(0)).toSeq
    val full = Similarity.ivfTopK(assigned, centroids, "vec_id", "embedding",
      q, 20, nProbe = 8, excludeId = Some(0L)).collect().map(_.getLong(0)).toSeq
    assert(full == brute) // exhaustive probe = exact
    // partial probe is EXACT within the probed cells (no ADC approximation
    // in plain IVF): must equal brute force restricted to those cells — a
    // deterministic property, unlike a recall bound on near-random vectors
    // (whose clusterability is luck of the centroid draw)
    val probeCells = Similarity.probeCellsFor(centroids, q, 3)
    val partial = Similarity.ivfTopK(assigned, centroids, "vec_id", "embedding",
      q, 20, nProbe = 3, excludeId = Some(0L)).collect().map(_.getLong(0)).toSeq
    val expected = Similarity.cosineTopK(
      assigned.filter(col("cell").isin(probeCells.toIndexedSeq: _*)),
      "vec_id", "embedding", q, 20, Some(0L))
      .collect().map(_.getLong(0)).toSeq
    assert(partial == expected,
      s"partial probe diverged from exact-within-probed-cells")
  }

  test("materialized LSH index: query path is partition-pruned, not a corpus scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val dir = graft.streaming.Ingest.scratch("ann_index") + "/lsh"
    Similarity.annIndex(emb, "vec_id", "embedding")
      .write.partitionBy("band", "bucket").mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    // AQE wraps the agg in an adaptive plan whose scan isn't visible to
    // collect(); turn it off while the physical plan is materialized
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (topk, scans) =
      try {
        val t = Similarity.annTopKIndexed(index, "vec_id", "embedding", q, 20,
          excludeId = Some(0L))
        (t, t.queryExecution.executedPlan.collect {
          case f: FileSourceScanExec if f.relation.location.rootPaths
            .exists(_.toString.contains("ann_index")) => f
        })
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(scans.nonEmpty, "expected a scan of the materialized index")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "band/bucket probe must be a partition filter (physical pruning)")
    // pruned scan reads only the query's 4 band buckets, not all 4·16
    val touched = scans.map(_.selectedPartitions.partitionCount).sum
    assert(touched <= 4, s"query touched $touched partitions, expected ≤ 4")
    // and the indexed path returns exactly what the inline path returns
    val direct = Similarity.annTopK(emb, "vec_id", "embedding", q, 20,
      excludeId = Some(0L)).collect().toSeq
    assert(topk.collect().toSeq == direct)
  }

  test("BPE encode: min-rank loop equals the naive rank scan; hand examples") {
    // naive reference: literally apply every rank in order, greedy
    // left-to-right — the formulation the DuckDB oracle unrolls
    def naive(w: String, merges: Seq[(String, String)]): Seq[String] = {
      var toks: Seq[String] = w.map(_.toString)
      for ((l, r) <- merges) {
        val out = Seq.newBuilder[String]
        var j = 0
        while (j < toks.length) {
          if (j < toks.length - 1 && toks(j) == l && toks(j + 1) == r) {
            out += (l + r); j += 2
          } else { out += toks(j); j += 1 }
        }
        toks = out.result()
      }
      toks
    }
    // greedy non-overlap: merge (a,a) on "aaab" gives [aa, a, b]
    val e1 = new BpeEncoder(Array(("a", "a")))
    assert(e1.encode("aaab").toSeq == Seq("aa", "a", "b"))
    // chained ranks: (a,b) then (ab,c) — the later rank consumes the
    // earlier's product
    val e2 = new BpeEncoder(Array(("a", "b"), ("ab", "c")))
    assert(e2.encode("abcabc").toSeq == Seq("abc", "abc"))
    // differential fuzz over random words and random merge tables
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 300) {
      val alpha = "abcd"
      val w = Seq.fill(2 + rnd.nextInt(12))(alpha(rnd.nextInt(4))).mkString
      // grow merges the way training does: later rules may reference
      // earlier products
      var units = alpha.map(_.toString).toIndexedSeq
      val merges = (1 to (1 + rnd.nextInt(6))).map { _ =>
        val l = units(rnd.nextInt(units.size))
        val r = units(rnd.nextInt(units.size))
        units = units :+ (l + r)
        (l, r)
      }
      val enc = new BpeEncoder(merges.toArray)
      assert(enc.encode(w).toSeq == naive(w, merges),
        s"word=$w merges=$merges")
    }
    // a NON-training-ordered list (earlier rank consumes a later rank's
    // product) is where min-rank and the naive scan diverge — the
    // constructor must refuse it rather than silently pick one semantics
    val bad = intercept[IllegalArgumentException] {
      new BpeEncoder(Array(("ab", "c"), ("a", "b")))
    }
    assert(bad.getMessage.contains("bpeTrain-ordered"))
    // multi-codepoint base chars (astral plane) are still single "chars"
    new BpeEncoder(Array(("😀", "a"))) // must not throw
  }

  test("BPE encode over the corpus: tokens reassemble the pretokens; memo is per-thread") {
    val merges = Text.bpeTrain(docs, "text", 3).orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toIndexedSeq
    assert(merges.size == 3)
    val enc = Text.bpeEncode(docs, "doc_id", "text", merges)
    // concatenating a doc's encoded tokens must reproduce exactly the
    // concatenation of its pretokens (encode splits, never rewrites)
    val joined = enc.select(col("id"), concat_ws("", col("toks")).as("enc"))
      .join(docs.select(col("doc_id").as("id"),
        concat_ws("", Text.bpeTokens(col("text"))).as("pre")), "id")
      .filter(col("enc") =!= col("pre")).count()
    assert(joined == 0L)
    // and the trained merges actually fire: some doc has fewer tokens than
    // characters-in-pretokens
    val shrunk = enc.select(size(col("toks")).as("n"),
        aggregate(transform(col("toks"), t => length(t)), lit(0),
          (a, x) => a + x).as("chars"))
      .filter(col("n") < col("chars")).count()
    assert(shrunk > 0L)
    // the fused expression equals the compositional HOF formulation
    // (pretokenize -> per-word BpeApply -> flatten)
    import org.apache.spark.sql.graftshim.Shim
    val encObj = new BpeEncoder(merges.toArray)
    val viaHof = docs.select(col("doc_id").as("id"),
      flatten(transform(Text.bpeTokens(col("text")),
        w => Shim.column(BpeApply(Shim.expression(w), encObj)))).as("toks"))
    assert(enc.exceptAll(viaHof).count() == 0 &&
      viaHof.exceptAll(enc).count() == 0)
  }

  test("RRF fusion: hand-computed ranks; bounded-window shape") {
    import spark.implicits._
    val s1 = Seq((1L, 10.0), (2L, 9.0), (3L, 8.0)).toDF("id", "score")
    val s2 = Seq((3L, 0.9), (1L, 0.8), (4L, 0.7)).toDF("id", "score")
    val out = Text.rrfFuse(Seq(s1, s2), "id", "score", topN = 2, kRrf = 60)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // topN=2 keeps (1,2) from s1 and (3,1) from s2
    assert(out == Map(
      1L -> (1.0 / 61 + 1.0 / 62),
      2L -> 1.0 / 62,
      3L -> 1.0 / 61))
    // ties in score rank by ascending id
    val s3 = Seq((5L, 1.0), (4L, 1.0)).toDF("id", "score")
    val t = Text.rrfFuse(Seq(s3), "id", "score", topN = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(t == Map(4L -> 1.0 / 61, 5L -> 1.0 / 62))
  }

  test("PQ: exhaustive shortlist equals brute force; encode matches a naive replay") {
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val cb = Similarity.pqTrain(emb, "embedding", dim = 64, m = 8, k = 16)
    assert(cb.length == 8 && cb.forall(_.forall(_.length == 8)))
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", 64, cb)
    // encode replay: every code must be the argmin-distance centroid of its
    // subvector (ties by first index, like NearestCells)
    val sample = emb.join(codes, "vec_id").orderBy("vec_id").limit(20)
      .select(col("vec_id"), col("embedding"), col("code"), col("vnorm"))
      .collect()
    for (r <- sample) {
      val v = r.getSeq[Float](1).map(_.toDouble)
      val code = r.getAs[Array[Byte]](2).map(_ & 0xff).toSeq
      val naive = (0 until 8).map { i =>
        val sv = v.slice(i * 8, (i + 1) * 8)
        cb(i).zipWithIndex.minBy { case (c, j) =>
          (c.zip(sv).map { case (a, b) => (a - b) * (a - b) }.sum, j) }._2
      }
      assert(code == naive, s"vec ${r.getLong(0)} code mismatch")
      val norm = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(r.getDouble(3) - norm) < 1e-6)
    }
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 20, Some(0L))
      .collect().map(_.getLong(0)).toSeq
    val exhaustive = Similarity.pqTopK(codes, emb, "vec_id", "embedding", cb,
      q, 20, shortlist = 1000000, excludeId = Some(0L))
      .collect().map(_.getLong(0)).toSeq
    assert(exhaustive == brute)
  }

  test("rerankIsinMax follows Spark's registered inFilterThreshold default " +
      "in a session not built through EngineConf") {
    import org.apache.spark.sql.internal.SQLConf
    val key = SQLConf.PARQUET_FILTER_PUSHDOWN_INFILTERTHRESHOLD.key
    val plain = spark.newSession()
    plain.conf.unset(key)
    plain.conf.unset("spark.graft.ann.rerankIsinMax")
    assert(Similarity.rerankIsinMax(plain) ==
      SQLConf.PARQUET_FILTER_PUSHDOWN_INFILTERTHRESHOLD.defaultValue.get)
    plain.conf.set(key, "77")
    assert(Similarity.rerankIsinMax(plain) == 77)
    plain.conf.set("spark.graft.ann.rerankIsinMax", "5")
    assert(Similarity.rerankIsinMax(plain) == 5)
  }

  test("PQ: small-shortlist ADC keeps high recall; scan reads codes only") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    // near-random synthetic embeddings are PQ's worst case (no cluster
    // structure to quantize); m=16 four-dim subspaces keep recall high and
    // stable across k-means|| init variation (measured 16-20/20 over a
    // config sweep; coarser m=8 swung 10-18)
    val cb = Similarity.pqTrain(emb, "embedding", dim = 64, m = 16, k = 32)
    val dir = graft.streaming.Ingest.scratch("pq_index") + "/codes"
    Similarity.pqEncode(emb, "vec_id", "embedding", 64, cb)
      .write.mode("overwrite").parquet(dir)
    val codes = spark.read.parquet(dir)
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 20, Some(0L))
      .collect().map(_.getLong(0)).toSet
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (got, codeScans, rerankScans) =
      try {
        val topk = Similarity.pqTopK(codes, emb, "vec_id", "embedding", cb,
          q, 20, shortlist = 100, excludeId = Some(0L))
        // the ADC stage is the eagerly-materialized shortlist frame (r15:
        // its ids re-attach to the rerank as a pushable isin, so it no
        // longer appears inside the final plan) — assert ITS scan shape
        val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
        val short = Similarity.pqShortlist(codes, "vec_id",
          Similarity.adcTables(cb, q), qn, 100, Some(0L), lit(0.0))
        (topk.collect().map(_.getLong(0)).toSet,
          short.queryExecution.executedPlan.collect {
            case f: FileSourceScanExec if f.relation.location.rootPaths
              .exists(_.toString.contains("pq_index")) => f
          },
          topk.queryExecution.executedPlan.collect {
            case f: FileSourceScanExec => f
          })
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val recall = (got & brute).size
    assert(recall >= 14, s"PQ recall too low: $recall/20")
    // the ADC stage must touch only the compact code table columns — the
    // whole point of the layout is that the fat vector column stays unread
    // until the shortlist rerank
    assert(codeScans.nonEmpty, "expected a scan of the code table")
    assert(codeScans.forall(f =>
        !f.schema.fieldNames.contains("embedding") &&
          f.schema.fieldNames.toSet.subsetOf(Set("vec_id", "code", "vnorm"))),
      s"code scan read ${codeScans.map(_.schema.fieldNames.mkString(","))}")
    // the rerank reads the raw vectors through a PUSHED id predicate, not
    // a corpus-wide broadcast-join probe — at 100 TB that is the
    // difference between page-pruned candidate reads and a full re-scan
    assert(rerankScans.nonEmpty, "expected a rerank scan of the originals")
    assert(rerankScans.forall(f => f.dataFilters.exists(
        _.references.exists(_.name == "vec_id"))),
      s"rerank scan carries no vec_id candidate filter: " +
        s"${rerankScans.map(_.dataFilters.mkString(";"))}")
  }

  test("IVF-PQ: exhaustive config equals brute force; probe prunes partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val (codes, centroids, cb) = Similarity.ivfPqIndex(
      emb, "vec_id", "embedding", dim = 64, nCells = 8, m = 16, k = 32)
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 20, Some(0L))
      .collect().map(_.getLong(0)).toSeq
    // nProbe = nCells + shortlist >= corpus: exact regardless of quantizers
    val exhaustive = Similarity.ivfPqTopK(codes, emb, "vec_id", "embedding",
      centroids, cb, q, 20, nProbe = 8, shortlist = 1000000, excludeId = Some(0L))
      .collect().map(_.getLong(0)).toSeq
    assert(exhaustive == brute)
    // cell-partitioned layout: the production query touches nProbe
    // partitions of codes, never the corpus
    val dir = graft.streaming.Ingest.scratch("ivfpq_index") + "/cells"
    codes.write.partitionBy("cell").mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (got, scans) =
      try {
        val topk = Similarity.ivfPqTopK(stored, emb, "vec_id", "embedding",
          centroids, cb, q, 20, nProbe = 3, shortlist = 100, excludeId = Some(0L))
        // the code-table scan lives in the eagerly-materialized ADC
        // shortlist (r15: its ids reach the rerank as a pushable isin, so
        // the codes scan is no longer part of the final plan)
        val short = Similarity.ivfPqShortlist(stored, "vec_id", centroids,
          cb, q, nProbe = 3, shortlist = 100, excludeId = Some(0L))
        (topk.collect().map(_.getLong(0)).toSet,
          short.queryExecution.executedPlan.collect {
            case f: FileSourceScanExec if f.relation.location.rootPaths
              .exists(_.toString.contains("ivfpq_index")) => f
          })
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(scans.nonEmpty, "expected a scan of the IVF-PQ layout")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "cell probe must be a partition filter (physical pruning)")
    val touched = scans.map(_.selectedPartitions.partitionCount).sum
    assert(touched <= 3, s"query touched $touched cells, expected <= 3")
    assert(scans.forall(!_.schema.fieldNames.contains("embedding")),
      "code scan must not read the vector column")
    // recall is judged against the probed-cell CEILING, not an absolute
    // bound: pruning to 3 of 8 cells on near-random vectors forfeits the
    // out-of-cell neighbors by design — what the ADC shortlist owes is
    // most of what's actually IN the probed cells
    val probeCells = Similarity.probeCellsFor(centroids, q, 3).toSet
    val probedIds = stored.filter(col("cell").isin(probeCells.toSeq: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.subsetOf(probedIds), "results leaked from unprobed cells")
    val ceiling = (brute.toSet & probedIds).size
    val recall = (got & brute.toSet).size
    assert(recall * 10 >= ceiling * 6,
      s"IVF-PQ recall too low: $recall of a $ceiling-neighbor ceiling")
  }

  test("IVF cell-partitioned layout: probe reads only nProbe cells") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val (assigned, centroids) =
      Similarity.ivfIndex(emb, "vec_id", "embedding", nCells = 8)
    val dir = graft.streaming.Ingest.scratch("ivf_index") + "/cells"
    assigned.write.partitionBy("cell").mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    val topk = Similarity.ivfTopK(index, centroids, "vec_id", "embedding",
      q, 20, nProbe = 3, excludeId = Some(0L))
    val scans = topk.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains("ivf_index")) => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "cell probe must be a partition filter")
    assert(scans.map(_.selectedPartitions.partitionCount).sum <= 3,
      "probe must touch only the nProbe=3 nearest cells")
  }

  test("dedupKeepBest keeps the highest-scored cluster member, ties to " +
    "greatest id; unclustered rows survive") {
    import spark.implicits._
    // clusters: {1,2,3} rooted at 1, {5,6} rooted at 5; 9 unclustered
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("id", "root")
    val corpus = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L), // 2 and 3 tie on score -> keep 3
      (5L, 50L), (6L, 40L),            // 5 wins outright
      (9L, 1L)                         // not in any cluster
    ).toDF("doc_id", "quality")
    val kept = Dedup.dedupKeepBest(corpus, "doc_id", "quality", clusters)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 5L, 9L), kept)
  }

  test("packScan: greedy budget splits, shard resets, oversized doc isolated") {
    // (shard, id, n) sorted by (shard, id); budget 10
    val in = Seq(
      (0L, 1L, 4L), (0L, 2L, 5L),   // seq 0: 4+5=9 fits
      (0L, 3L, 2L),                 // 9+2>10 → seq 1
      (0L, 4L, 25L),                // 2+25>10 → seq 2 (oversized, alone)
      (0L, 5L, 1L),                 // 25+1>10 → seq 3
      (1L, 6L, 7L), (1L, 7L, 3L)    // new shard → seq 0: 7+3=10 exactly fits
    )
    val got = Packing.packScan(in.iterator, 10L).toSeq
    assert(got == Seq(
      (0L, 0L, 2L, 9L), (0L, 1L, 1L, 2L), (0L, 2L, 1L, 25L), (0L, 3L, 1L, 1L),
      (1L, 0L, 2L, 10L)))
    assert(Packing.packScan(Iterator.empty, 10L).isEmpty)
  }

  test("packSequences conserves docs and tokens across sequences") {
    val packed = Packing.packSequences(docs, "doc_id", "text", budget = 512L)
      .agg(sum("n_docs"), sum("tokens")).head()
    val direct = docs.agg(count(lit(1)), sum(Text.tokenCount(col("text")))).head()
    assert(packed.getLong(0) == direct.getLong(0))
    assert(packed.getLong(1) == direct.getLong(1))
  }

  test("deterministic sampling: reproducible, salt-independent draws, rate ~ requested") {
    val ids = docs.select(col("doc_id"))
    val a = Sampling.deterministicSample(ids, col("doc_id"), 2000)
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.deterministicSample(ids, col("doc_id"), 2000)
      .collect().map(_.getLong(0)).toSet
    assert(a == b, "same salt must draw the same sample")
    val other = Sampling.deterministicSample(ids, col("doc_id"), 2000, salt = "v2")
      .collect().map(_.getLong(0)).toSet
    assert(other != a, "a different salt must draw a different sample")
    val n = docs.count().toDouble
    assert(math.abs(a.size / n - 0.2) < 0.06, s"rate off: ${a.size / n}")
    // a 2000bp draw nests inside a 4000bp draw (same salt) — stable mixing
    val wider = Sampling.deterministicSample(ids, col("doc_id"), 4000)
      .collect().map(_.getLong(0)).toSet
    assert(a.subsetOf(wider), "narrower rate must be a subset of wider rate")
  }

  test("repetition signals: duplicate fractions and dominant token") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam"),              // all dup, top frac 1
      (2L, "a b c d"),                          // no repetition
      (3L, "x y x y x y")).toDF("id", "t")      // bigrams repeat
    val got = df.select(col("id"),
        Text.dupTokenRatio(col("t")).as("dt"),
        Text.dupNgramRatio(col("t"), 2).as("d2"),
        Text.topTokenFrac(col("t")).as("tf"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    // expectations spelled as the engine computes them (1.0 - d/n), so the
    // doubles match bit-for-bit
    assert(got(1L) == ((0.75, 1.0 - 1.0 / 3, 1.0)))
    assert(got(2L) == ((0.0, 0.0, 0.25)))
    // "x y x y x y": 6 tokens 2 distinct → 1-1/3; bigrams [xy,yx,xy,yx,xy]
    // → 5 total 2 distinct → 1-2/5; top frac 0.5
    assert(got(3L) == ((1.0 - 2.0 / 6, 1.0 - 2.0 / 5, 0.5)))
  }

  test("token-budget mixing: quota-capped strata, unbudgeted dropped") {
    val budgets = Map("en" -> 4000L, "de" -> 1000000L)
    val mixed = Sampling.sampleToTokenBudget(
      docs.select(col("doc_id"), col("lang"), col("text")),
      col("doc_id"), col("lang"), Text.tokenCount(col("text")), budgets)
    val byLang = mixed.groupBy("lang")
      .agg(sum(Text.tokenCount(col("text"))).as("toks"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // unbudgeted languages are gone entirely
    assert(byLang.keySet == Set("en", "de"))
    // de's budget exceeds supply → rate caps at 1, every de doc kept
    val deAll = docs.filter(col("lang") === "de").count()
    assert(byLang("de")._2 == deAll)
    // en sampled to ~its quota (hash gate is per-doc, so ±40% slack)
    val enToks = byLang("en")._1.toDouble
    assert(enToks > 1500 && enToks < 7000, s"en tokens: $enToks")
  }

  test("semantic dedup: cell-bounded pair stage keeps most exact clusters") {
    val exact = Similarity.semanticClusters(emb, "vec_id", "embedding", 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test embeddings should contain near-dups")
    val cellBounded = Similarity.semanticClusters(emb, "vec_id", "embedding", 0.45,
        nCells = Some(4)).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // SemDeDup tradeoff: within-cell only — most pairs survive on test data
    val recall = (cellBounded & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"cell-bounded recall too low: $recall")
  }

  test("semantic dedup: exact all-pairs refuses a corpus-sized input") {
    // the O(n²) default must not be reachable by accident at scale: above
    // maxExactRows the call fails fast, naming the nCells knob
    val err = intercept[IllegalArgumentException] {
      Similarity.semanticClusters(emb, "vec_id", "embedding", 0.45,
        maxExactRows = 3)
    }
    assert(err.getMessage.contains("nCells"), err.getMessage)
    // the cell-bounded path is unaffected by the cap
    assert(Similarity.semanticClusters(emb, "vec_id", "embedding", 0.45,
      nCells = Some(4), maxExactRows = 3).count() > 0)
  }

  test("deterministic shuffle: reproducible total permutation, salt " +
    "redraws it, one range exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val a = Sampling.deterministicShuffle(docs, col("doc_id"), "epoch0")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val b = Sampling.deterministicShuffle(docs, col("doc_id"), "epoch0")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val c = Sampling.deterministicShuffle(docs, col("doc_id"), "epoch1")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(a == b)                       // same salt -> same permutation
    assert(a != c)                       // new salt -> new permutation
    assert(a.toSet == c.toSet)           // both are permutations
    assert(a != a.sorted)                // and actually shuffled
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Sampling.deterministicShuffle(docs, col("doc_id"), "epoch0")
        .queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.length == 1, // the global sort's range exchange only
        s"shuffle must cost exactly one exchange: $exchanges")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("BPE encode plan is a pure map-side pass: zero exchanges, codegen'd") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val enc = Text.bpeEncode(docs, "doc_id", "text",
        Seq(("w", "1"), ("w1", "2")))
      val plan = enc.queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.isEmpty, s"encode must not shuffle: $exchanges")
      val wscg = plan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }
      assert(wscg.nonEmpty && wscg.exists(_.toString.contains("bpe_encode_text")),
        s"encode should run inside whole-stage codegen:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("sampling plan is a pure map-side filter: zero exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Sampling.stratifiedSample(docs, col("doc_id"), col("lang"),
          Map("en" -> 2000), defaultBp = 500)
        .queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.isEmpty, s"sampling must not shuffle: $exchanges")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("sequence packing plan: one data exchange plus the output ordering") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Packing.packSequences(docs, "doc_id", "text", budget = 512L)
        .queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      // one hash exchange groups docs by shard; the trailing orderBy adds a
      // range exchange for presentation — nothing else may shuffle
      assert(exchanges.size <= 2, s"unexpected shuffles: $exchanges")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("boilerplate line removal drops frequent lines, keeps order") {
    import spark.implicits._
    val df = Seq(
      (1L, "unique one\nSUBSCRIBE\nmiddle line\nCOOKIES"),
      (2L, "SUBSCRIBE\nanother doc\nCOOKIES"),
      (3L, "COOKIES\nSUBSCRIBE\nthird text")).toDF("id", "t")
    val got = Text.removeFrequentLines(df, "id", "t", minDf = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(
      1L -> "unique one\nmiddle line",
      2L -> "another doc",
      3L -> "third text"))
  }

  test("PII redaction scrubs emails/phones/IPs and counts them") {
    import spark.implicits._
    val df = Seq((1L, "write bob@corp.io or call 555-123-4567 from 192.168.0.1 ok"))
      .toDF("id", "t")
    val (ne, np, ni) = Text.piiCounts(col("t"))
    val r = df.select(Text.redactPii(col("t")).as("r"), ne.as("e"), np.as("p"), ni.as("i"))
      .head()
    assert(r.getString(0) == "write <EMAIL> or call <PHONE> from <IP> ok", r.getString(0))
    assert(r.getInt(1) == 1 && r.getInt(2) == 1 && r.getInt(3) == 1)
  }

  test("contamination flags corpus docs sharing n-grams with the eval set") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated text with no overlap whatsoever here at all"),
      (3L, "prefix words then the quick brown fox jumps over the lazy dog tonight")
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, eval_, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1 is the eval doc verbatim (3 distinct 8-grams), doc 3 embeds it,
    // doc 2 is clean
    assert(hits.map(_._1) == Set(1L, 3L), hits.toString)
    assert(hits.forall(_._2 == 100L) && hits.forall(_._3 >= 3L), hits.toString)
  }

  test("langId picks marker-dominant language deterministically") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("the", "a", "of", "x")),
      (2L, Seq("el", "la", "de", "y")),
      (3L, Seq("xyz", "qqq"))).toDF("id", "words")
    val got = df.select(col("id"), Text.langId(col("words")).as("p"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "en", 2L -> "es", 3L -> "und"))
  }

  test("fingerprint is stable and order-sensitive") {
    import spark.implicits._
    val df = Seq((1L, "ab"), (2L, "ba"), (3L, "ab")).toDF("id", "t")
    val fps = df.select(Text.fingerprint(col("t"))).collect().map(_.getLong(0))
    assert(fps(0) == fps(2) && fps(0) != fps(1))
    // poly hash: ('a'=97, 'b'=98) → (0*31+97)*31+98 = 3105
    assert(fps(0) == 3105L)
  }

  // ------------------------------------------------------------ BPE training

  /** Independent single-node BPE (Sennrich 2016): greedy left-to-right
    * non-overlapping merges, ties (freq DESC, l, r). */
  private def naiveBpe(texts: Seq[String], k: Int): Seq[(Long, String, String, Long)] = {
    val re = Text.BpePattern.r
    def mergeGreedy(toks: List[String], l: String, r: String): List[String] =
      toks.foldLeft(List.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
        else acc :+ x
      }
    var vocab: Map[List[String], Long] = texts
      .flatMap(t => re.findAllIn(t)).filter(_.exists(!_.isWhitespace))
      .groupBy(w => w.map(_.toString).toList)
      .map { case (toks, ws) => toks -> ws.size.toLong }
    val out = Seq.newBuilder[(Long, String, String, Long)]
    var rank = 1L
    var done = false
    while (rank <= k && !done) {
      val pairs = collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      vocab.foreach { case (toks, cnt) =>
        toks.zip(toks.tail).foreach(p => pairs(p) += cnt)
      }
      if (pairs.isEmpty) done = true
      else {
        val ((l, r), f) = pairs.toSeq.minBy { case ((l, r), f) => (-f, l, r) }
        out += ((rank, l, r, f))
        vocab = vocab.toSeq.map { case (toks, cnt) => (mergeGreedy(toks, l, r), cnt) }
          .groupMapReduce(_._1)(_._2)(_ + _)
        rank += 1
      }
    }
    out.result()
  }

  test("bpeTrain matches an independent single-node BPE on real docs") {
    val docs = Tables.load(spark, sfDir, "documents")
    val texts = docs.select("text").collect().map(_.getString(0)).toSeq
    val got = Text.bpeTrain(docs, "text", 6).orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == naiveBpe(texts, 6))
    assert(got.size == 6)
  }

  test("bpeTrain greedy merge is left-to-right non-overlapping") {
    import spark.implicits._
    // 'aaab' x3 + 'ab' x1: merge 1 must be (a,a) freq 3 (aaab contributes ONE
    // overlapping pair-site twice but greedy counts 2 adjacent slots; the
    // pair-count stage counts positions: aaab has (a,a) twice)
    val df = Seq.fill(3)("aaab").zipWithIndex.map(_.swap)
      .toDF("id", "t")
    val got = Text.bpeTrain(df, "t", 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val want = naiveBpe(Seq.fill(3)("aaab"), 2)
    assert(got == want)
    // after merging (a,a): 'aa','a','b' — NOT 'a','aa','b' (left-to-right)
    assert(got.head._2 == "a" && got.head._3 == "a")
  }

  test("substringDedup cuts every duplicated n-gram occurrence, merges spans") {
    import spark.implicits._
    // docs 1 and 2 share "p q r s t"; doc 1 repeats it internally at an
    // overlapping offset so its two covered spans merge into one; doc 3 is
    // untouched
    val df = Seq(
      (1L, "a p q r s t p q r s t z"),
      (2L, "x x p q r s t y y"),
      (3L, "completely unrelated words here only once")).toDF("doc_id", "text")
    val got = Dedup.substringDedup(df, "doc_id", "text", 5)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // doc 1: duplicated gram "p q r s t" starts at {2, 7} -> covered
    // [2,6] and [7,11] are adjacent and merge into ONE span of 10 tokens
    assert(got(0) == ((1L, 1L, 10L, "a z")))
    assert(got(1) == ((2L, 1L, 5L, "x x y y")))
    assert(got(2) == ((3L, 0L, 0L, "completely unrelated words here only once")))
  }

  test("substringDedup: doc shorter than n, empty doc, no-dup corpus") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, ""), (3L, "d e f g h i")).toDF("doc_id", "text")
    val got = Dedup.substringDedup(df, "doc_id", "text", 5)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq((1L, 0L, 0L, "a b c"), (2L, 0L, 0L, ""),
      (3L, 0L, 0L, "d e f g h i")))
  }

  test("bm25 plan: term filter is map-side inside the scan, no corpus-wide " +
      "vocabulary shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the one corpus pass (pre-checkpoint): exactly ONE exchange, and
      // the IN(query terms) predicate evaluates below it (map-side in the
      // scan stage), so the tf shuffle is term-pruned
      val pass = Text.bm25TermRows(docs, "doc_id", "text",
        Seq("spark", "hash")).queryExecution.executedPlan
      val passEx = pass.collect { case e: ShuffleExchangeExec => e }
      assert(passEx.size == 1, s"corpus pass shuffles ${passEx.size}×:\n$pass")
      assert(passEx.head.child.toString.contains("array_contains"),
        s"term filter not below the exchange:\n${passEx.head}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("substringDedup plan: the exploded gram table shuffles at most twice") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Dedup.substringDedup(docs, "doc_id", "text", 5)
        .queryExecution.executedPlan
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      // gram-count exchange, starts groupBy(id), final doc join(+order) —
      // anything more means a side recomputed its own corpus-wide shuffle
      assert(shuffles.size <= 4, s"unexpected shuffles (${shuffles.size}):\n" +
        shuffles.mkString("\n"))
      // the n×-multiplied gram explode may feed at most 2 exchanges (the
      // dup count; plus the join-back ONLY if the dup side is too big to
      // broadcast — at which point ReuseExchange shares the gram shuffle)
      val gramFed = shuffles.count(_.child.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }.nonEmpty)
      assert(gramFed <= 2, s"gram explode shuffled $gramFed times:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("substringDedup: a long fully-duplicated doc reassembles in linear " +
      "time (merge-scan, not per-token array_contains)") {
    import spark.implicits._
    // two 50k-token copies: every position is covered in both docs. The
    // old filter+array_contains reassembly was O(tokens × covered) ≈ 2.5e9
    // comparisons per doc on one core; the merge-scan finishes in seconds.
    val body = (1 to 50000).map(i => s"w${i % 9000}").mkString(" ")
    val df = Seq((1L, body), (2L, body)).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val got = Dedup.substringDedup(df, "doc_id", "text", 5)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(got.toSeq == Seq((1L, 1L, 50000L, ""), (2L, 1L, 50000L, "")))
    assert(sec < 60.0, s"pathological doc took ${sec}s — reassembly is " +
      "super-linear again")
  }

  test("bm25: ONE corpus pass (tf table checkpointed; scoring plan never " +
      "re-reads the corpus); empty corpus is empty, not an NPE") {
    // the corpus scan+tokenize lives only in the checkpoint job; the
    // returned scoring plan reads the materialized tf rows — zero parquet
    // scans means the corpus cannot be tokenized a second time
    val q = Text.bm25(docs, "doc_id", "text", Seq("spark", "hash"))
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).isEmpty,
      s"scoring plan re-scans the corpus:\n$p")
    // empty corpus: zero rows through ordinary SQL semantics (the old
    // shape NPE'd driver-side on a null avg(dl))
    assert(Text.bm25(docs.limit(0), "doc_id", "text", Seq("spark")).count() == 0L)
    // all-empty-docs corpus (avgdl = 0): guarded, empty result
    import spark.implicits._
    val empties = Seq((1L, ""), (2L, "")).toDF("doc_id", "text")
    assert(Text.bm25(empties, "doc_id", "text", Seq("spark")).count() == 0L)
  }

  test("pqTrain refuses an empty input with an error naming the cause") {
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTrain(emb.limit(0), "embedding", 8, 2, 4)
    }
    assert(e.getMessage.contains("no rows to fit codebooks"))
  }

  test("bigram cross-entropy matches the hand-computed Laplace model") {
    import spark.implicits._
    // doc1 "a b a b" (bigram slots ab, ba, ab), doc2 "a c" (ac), doc3 "x"
    val df = Seq((1L, "a b a b"), (2L, "a c"), (3L, "x")).toDF("doc_id", "text")
    val got = Text.bigramCrossEntropy(df, "doc_id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // unigrams: a:3 b:2 c:1 x:1 -> V=4; bigrams: (a,b):2 (b,a):1 (a,c):1
    val pAB = 3.0 / 7.0  // (2+1)/(3+4)
    val pBA = 2.0 / 6.0  // (1+1)/(2+4)
    val pAC = 2.0 / 7.0  // (1+1)/(3+4)
    def l2(x: Double) = math.log(x) / math.log(2)
    assert(got.map(x => (x._1, x._2)).toSeq == Seq((1L, 3L), (2L, 1L)))
    assert(math.abs(got(0)._3 - (-(l2(pAB) * 2 + l2(pBA)) / 3)) < 1e-9)
    assert(math.abs(got(1)._3 - -l2(pAC)) < 1e-12)
    // single-token doc 3 has no bigrams and is absent
  }

  test("bm25 matches the hand formula; only matching docs returned") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark spark spark other words here"),
      (2L, "spark alone"),
      (3L, "no match at all")).toDF("doc_id", "text")
    val got = Text.bm25(df, "doc_id", "text", Seq("spark"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
    val nd = 3.0; val dfq = 2.0; val avgdl = (6 + 2 + 4) / 3.0
    val idf = math.log((nd - dfq + 0.5) / (dfq + 0.5) + 1.0)
    def s(tf: Double, dl: Double) =
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert(math.abs(got(0)._2 - s(3, 6)) < 1e-12)
    assert(math.abs(got(1)._2 - s(1, 2)) < 1e-12)
    // higher tf scores higher at comparable length
    assert(got(0)._2 > got(1)._2)
  }

  test("sliding-window chunking: starts every size-overlap tokens, tail " +
    "short, full coverage, empty doc drops") {
    import spark.implicits._
    // 10 tokens, size 4, overlap 2 → starts 0,2,4,6,8 (step 2)
    val df = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")),
                 (2L, ""), (3L, "a b")).toDF("id", "text")
    val got = df.select(col("id"),
        explode(graft.functions.Text.chunks(col("text"), 4, 2)).as("c"))
      .select(col("id"), col("c.ix"), col("c.chunk"), col("c.n"))
      .orderBy("id", "ix")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val doc1 = got.filter(_._1 == 1L).toSeq
    assert(doc1 == Seq(
      (1L, 0, "w1 w2 w3 w4", 4), (1L, 1, "w3 w4 w5 w6", 4),
      (1L, 2, "w5 w6 w7 w8", 4), (1L, 3, "w7 w8 w9 w10", 4),
      (1L, 4, "w9 w10", 2)), doc1)
    assert(!got.exists(_._1 == 2L)) // empty doc → no chunks
    assert(got.filter(_._1 == 3L).toSeq == Seq((3L, 0, "a b", 2)))
    // invalid configs refuse loudly
    intercept[IllegalArgumentException](
      graft.functions.Text.chunks(col("text"), 4, 4))
    intercept[IllegalArgumentException](
      graft.functions.Text.chunks(col("text"), 0, 0))
  }

  test("normalizeText: NFC combine, control drop, whitespace collapse, trim") {
    import spark.implicits._
    val in = Seq(
      "  áb  c\tde  f  ", // combining acute, ctrl, vtab
      "", "   ", "xyz").toDF("t")
    val got = in.select(graft.functions.Text.normalizeText(col("t")))
      .collect().map(_.getString(0))
    assert(got(0) == "áb c de f", got(0).map(_.toInt).mkString(","))
    assert(got(1) == "" && got(2) == "")
    // BEL dropped joins x+y; FS (0x1C) is whitespace → splits y z
    assert(got(3) == "xy z", got(3))
  }

  test("stripHtml: tags become boundaries, entities decode once, " +
    "&amp; decodes last") {
    import spark.implicits._
    val in = Seq(
      "<p class=\"x\">a</p><p>b</p>",
      "&amp;lt; stays; &lt; decodes; &quot;q&#39;s&quot;&nbsp;end",
      "no markup at all").toDF("t")
    val got = in.select(graft.functions.Text.stripHtml(col("t")))
      .collect().map(_.getString(0))
    assert(got(0) == "a b", got(0)) // tag → space keeps the token boundary
    assert(got(1) == "&lt; stays; < decodes; \"q's\" end", got(1))
    assert(got(2) == "no markup at all")
  }

  test("deterministic split: exclusive, total, reproducible; shares must " +
    "sum to 10000") {
    import spark.implicits._
    val df = (1L to 500L).toDF("id")
    def run() = Sampling.split(df, col("id"),
        Seq("train" -> 8000, "val" -> 1000, "test" -> 1000), salt = "s1")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = run()
    assert(counts.keySet == Set("train", "val", "test"), counts)
    assert(counts.values.sum == 500, counts) // total: every row exactly once
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    assert(run() == counts) // reproducible
    // a row's assignment is independent of the rest of the corpus
    val one = Sampling.split(Seq(42L).toDF("id"), col("id"),
        Seq("train" -> 8000, "val" -> 1000, "test" -> 1000), salt = "s1")
      .head.getString(1)
    val inFull = Sampling.split(df, col("id"),
        Seq("train" -> 8000, "val" -> 1000, "test" -> 1000), salt = "s1")
      .filter(col("id") === 42L).head.getString(1)
    assert(one == inFull)
    intercept[IllegalArgumentException](
      Sampling.split(df, col("id"), Seq("a" -> 5000, "b" -> 4000)))
    intercept[IllegalArgumentException](
      Sampling.split(df, col("id"), Seq("a" -> 10001, "b" -> -1)))
    // NULL keys hash to NULL; assignment must still be total (all NULLs
    // are "the same key" and land together in the first split, never
    // split=NULL which would vanish from downstream split filters)
    val withNull = Sampling.split(
        Seq(Some(1L), None, Some(2L)).toDF("id"), col("id"),
        Seq("train" -> 8000, "val" -> 1000, "test" -> 1000), salt = "s1")
    assert(withNull.filter(col("split").isNull).count() == 0)
    assert(withNull.filter(col("id").isNull).head.getString(1) == "train")
  }

  test("capPerKey: exact deterministic per-key cap; under-cap keys pass " +
      "whole; survivors independent of the rest of the corpus") {
    import spark.implicits._
    // hot key (40 rows), exactly-at-cap key (5), under-cap key (2)
    val df = ((1 to 40).map(i => (i.toLong, "hot")) ++
      (41 to 45).map(i => (i.toLong, "atcap")) ++
      Seq((46L, "cold"), (47L, "cold"))).toDF("id", "domain")
    val out = Sampling.capPerKey(df, col("domain"), col("id"), cap = 5,
      salt = "s1")
    val counts = out.groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("hot" -> 5L, "atcap" -> 5L, "cold" -> 2L), counts)
    // deterministic: identical survivor set on rerun
    val ids = out.select("id").collect().map(_.getLong(0)).toSet
    val again = Sampling.capPerKey(df, col("domain"), col("id"), cap = 5,
      salt = "s1").select("id").collect().map(_.getLong(0)).toSet
    assert(ids == again)
    // a key's survivors don't depend on OTHER keys' rows (per-key rank)
    val hotOnly = Sampling.capPerKey(df.filter(col("domain") === "hot"),
        col("domain"), col("id"), cap = 5, salt = "s1")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(hotOnly == ids.filter(_ <= 40), s"$hotOnly vs $ids")
    // a different salt redraws the hot key's survivors
    val redrawn = Sampling.capPerKey(df, col("domain"), col("id"), cap = 5,
      salt = "s2").select("id").collect().map(_.getLong(0)).toSet
    assert(redrawn != ids)
    // NULL keys are never capped
    val withNull = (1 to 10).map(i => (i.toLong, Option.empty[String]))
      .toDF("id", "domain")
    assert(Sampling.capPerKey(withNull, col("domain"), col("id"), cap = 2,
      salt = "s1").count() == 10)
  }

  test("incremental ANN append: new vectors join existing cells/codebooks " +
    "and the exhaustive config stays exact over the grown corpus") {
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1)
    val (codes, centroids, cb) = Similarity.ivfPqIndex(
      half, "vec_id", "embedding", dim = 64, nCells = 8, m = 16, k = 32)
    // assignCells (the streaming/append path) must agree with the build's
    // KMeans transform — same argmin-L2 objective, checked exactly
    val reassigned = Similarity.assignCells(half, "embedding", centroids)
      .select(col("vec_id"), col("cell").as("cell2"))
    val disagree = codes.select("vec_id", "cell").join(reassigned, "vec_id")
      .filter(col("cell") =!= col("cell2")).count()
    assert(disagree == 0, s"$disagree vectors assigned differently")
    // append: encode the rest against the EXISTING centroids + codebooks
    val appended = Similarity.ivfPqEncode(
      Similarity.assignCells(rest, "embedding", centroids),
      "vec_id", "embedding", 64, centroids, cb)
    assert(appended.columns.toSeq == codes.columns.toSeq)
    val all = codes.unionByName(appended)
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 20, Some(0L))
      .collect().map(_.getLong(0)).toSeq
    val exhaustive = Similarity.ivfPqTopK(all, emb, "vec_id", "embedding",
      centroids, cb, q, 20, nProbe = 8, shortlist = 1000000, excludeId = Some(0L))
      .collect().map(_.getLong(0)).toSeq
    assert(exhaustive == brute,
      "appended vectors must be first-class at the exhaustive setting")
  }
}
