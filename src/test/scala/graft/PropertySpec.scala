package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.functions.VectorFunctions._
import graft.operators.LshIndex

/** ScalaCheck properties: the LSH two-phase search degrades gracefully —
  * when the fallback triggers it EQUALS flat search; bucket-path results
  * are always drawn from the true distance ordering; top-k is a prefix of
  * top-(k+1). Run by sbt's native ScalaCheck framework. */
object PropertySpec extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cfg = LshIndex.Config(numProjections = 3, dim = 4, seed = 7L)

  private def flatTopK(rows: Seq[(Long, Seq[Float])], q: Seq[Float], k: Int) = {
    val df = rows.toDF("vec_id", "embedding")
    df.crossJoin(broadcast(Seq(Tuple1(q)).toDF("qvec")))
      .withColumn("distance",
        round(cosineDistance(col("embedding"), col("qvec")), 6) + lit(0.0d))
      .select(col("vec_id"), col("distance"))
      .orderBy(col("distance"), col("vec_id")).limit(k)
      .as[(Long, Double)].collect().toSeq
  }

  private def lshTopK(rows: Seq[(Long, Seq[Float])], q: Seq[Float], k: Int) = {
    val indexed = LshIndex.withBucket(rows.toDF("vec_id", "embedding"),
      col("embedding"), cfg)
    val qdf = Seq(Tuple1(q)).toDF("qvec")
      .select(col("qvec"), lshBucket(col("qvec"), cfg.matrix).as("qbucket"))
    LshIndex.searchTwoPhase(indexed, qdf, "embedding", "cosine", k)
      .as[(Long, Double)].collect().toSeq
  }

  private val vecGen: Gen[Seq[Float]] =
    Gen.listOfN(4, Gen.chooseNum(-1.0f, 1.0f)).map(_.toSeq)

  private val nonZeroVec: Gen[Seq[Float]] = vecGen.retryUntil(_.exists(_ != 0f))

  property("n < k forces fallback in every bucket, so LSH == flat") =
    forAll(Gen.listOfN(6, vecGen), nonZeroVec) { (vs, q) =>
      val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      lshTopK(rows, q, k = 10) == flatTopK(rows, q, k = 10)
    }

  property("flat top-k is a prefix of top-(k+1)") =
    forAll(Gen.listOfN(8, vecGen), nonZeroVec) { (vs, q) =>
      val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      flatTopK(rows, q, 4).startsWith(flatTopK(rows, q, 3))
    }

  property("metadata pre-filter == post-filter (SURVEY §5: filter placement " +
    "cannot change the result set)") =
    forAll(Gen.listOfN(10, Gen.zip(vecGen, Gen.oneOf(1, 2, 3)))) { rows =>
      import graft.functions.MetadataFunctions._
      val df = rows.zipWithIndex.map { case ((v, tag), i) =>
        (i.toLong, v, Map("tag" -> s"i:$tag"))
      }.toDF("vec_id", "embedding", "metadata")
      val q = Seq(Tuple1(Seq(1f, 0f, 0f, 0f))).toDF("qvec")
      def scored(base: org.apache.spark.sql.DataFrame) = base
        .crossJoin(broadcast(q))
        .withColumn("distance",
          round(cosineDistance(col("embedding"), col("qvec")), 6) + lit(0.0d))
        .select(col("vec_id"), col("distance"))
      val pre = scored(df.where(filterPredicate(col("metadata"), Map("tag" -> 2))))
        .orderBy(col("distance"), col("vec_id"))
        .as[(Long, Double)].collect().toSeq
      val post = scored(df)
        .join(df.where(filterPredicate(col("metadata"), Map("tag" -> 2)))
          .select("vec_id"), Seq("vec_id"), "left_semi")
        .orderBy(col("distance"), col("vec_id"))
        .as[(Long, Double)].collect().toSeq
      pre == post
    }

  property("jaccard is symmetric, bounded, and 1 iff equal sets") = {
    import graft.operators.NearDup
    forAll(Gen.listOfN(6, Gen.alphaLowerStr.suchThat(_.nonEmpty)),
      Gen.listOfN(6, Gen.alphaLowerStr.suchThat(_.nonEmpty))) { (a, b) =>
      val df = Seq((a.mkString(" "), b.mkString(" "))).toDF("ta", "tb")
      val r = df.select(
        NearDup.jaccard(NearDup.shingles(col("ta"), 1), NearDup.shingles(col("tb"), 1)).as("ab"),
        NearDup.jaccard(NearDup.shingles(col("tb"), 1), NearDup.shingles(col("ta"), 1)).as("ba"),
        NearDup.jaccard(NearDup.shingles(col("ta"), 1), NearDup.shingles(col("ta"), 1)).as("aa"))
        .head()
      val (ab, ba, aa) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      ab == ba && ab >= 0.0 && ab <= 1.0 && aa == 1.0
    }
  }

  property("jaccardPairs == brute-force exact Jaccard on random corpora " +
    "WITH duplicates, at a random threshold (prefix + length filter " +
    "lose nothing, values exact)") = {
    import graft.operators.NearDup
    val wordPool = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val textGen = Gen.listOfN(5, Gen.oneOf(wordPool)).map(_.mkString(" "))
    forAll(Gen.listOfN(8, textGen), Gen.chooseNum(1, 3),
      Gen.oneOf(0.3, 0.5, 0.8, 1.0)) { (texts, dupFactor, t) =>
      val docs = (texts ++ Seq.fill(dupFactor)(texts.take(3)).flatten)
        .zipWithIndex.map { case (x, i) => (i.toLong, x) }
      val df = docs.toDF("doc_id", "text")
      val got = NearDup.jaccardPairs(df, col("doc_id"), col("text"),
          n = 2, threshold = t)
        .select($"id_a", $"id_b")
        .as[(Long, Long)].collect().toSet
      val h = df.select($"doc_id",
          NearDup.hashedShingles(col("text"), 2).as("hsh"))
        .as[(Long, Seq[Long])].collect().map { case (i, s) => i -> s.toSet }
      val brute = (for {
        (a, ha) <- h; (b, hb) <- h
        if a < b && ha.nonEmpty && hb.nonEmpty
        if ha.intersect(hb).size.toDouble / ha.union(hb).size >= t
      } yield (a, b)).toSet
      got == brute
    }
  }

  property("packWholeDocs invariants on random sizes: no split, no " +
    "overfill except oversize-alone, contiguous global seqs, id order " +
    "monotone in seq") = {
    import graft.operators.TrainingData
    forAll(Gen.listOfN(20, Gen.chooseNum(0L, 30L)),
      Gen.oneOf(4, 7, 16), Gen.oneOf(3, 8, 64)) { (sizes, budget, bd) =>
      val df = sizes.zipWithIndex.map { case (n, i) => (i.toLong, n) }
        .toDF("id", "n")
      val rows = TrainingData.packWholeDocs(df, col("id"), col("n"),
          budget.toLong, bucketDocs = bd)
        .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
      val bySeq = rows.groupBy(_._3)
      val fills = bySeq.forall { case (_, ds) =>
        if (ds.exists(_._5)) ds.length == 1
        else ds.map(_._2).sum <= budget
      }
      val seqs = rows.map(_._3).distinct.sorted
      val contiguous = seqs.isEmpty ||
        (seqs.head == 0L && seqs.last == seqs.length - 1L)
      val monotone = rows.sliding(2).forall(p =>
        p.length < 2 || p(0)._3 <= p(1)._3)
      val allDocs = rows.length == sizes.length
      fills && contiguous && monotone && allDocs
    }
  }

  property("collapsed nearDupPairs == brute-force pairs and nearDupEdges " +
    "preserves losers + closure, on random corpora WITH duplicates") = {
    import graft.operators.NearDup
    // small word pool => high collision/duplication rate; dupFactor
    // replicates a prefix of the corpus verbatim under fresh ids
    val wordPool = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val textGen = Gen.listOfN(5, Gen.oneOf(wordPool)).map(_.mkString(" "))
    forAll(Gen.listOfN(8, textGen), Gen.chooseNum(1, 4)) { (texts, dupFactor) =>
      val docs = (texts ++ Seq.fill(dupFactor)(texts.take(3)).flatten)
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = docs.toDF("doc_id", "text")
      val pairs = NearDup.nearDupPairs(df, col("doc_id"), col("text"),
          n = 2, numHashes = 24, rowsPerBand = 1, threshold = 0.5)
        .select($"id_a", $"id_b", $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
      // brute force over the driver-side corpus
      val h = df.select($"doc_id",
        NearDup.hashedShingles(col("text"), 2).as("hsh"))
      val brute = h.as("x").join(h.as("y"), $"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id", $"y.doc_id",
          NearDup.jaccard($"x.hsh", $"y.hsh").as("j"))
        .where($"j" >= 0.5)
        .as[(Long, Long, Double)].collect().toSet
      val edges = NearDup.nearDupEdges(df, col("doc_id"), col("text"),
          n = 2, numHashes = 24, rowsPerBand = 1, threshold = 0.5)
        .as[(Long, Long)].collect().toSet
      // greedy losers identical; components identical (union-find)
      def comps(es: Set[(Long, Long)]): Map[Long, Long] = {
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        docs.foreach(d => find(d._1))
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(ra max rb) = ra min rb
        }
        parent.keys.map(k => k -> find(k)).toMap
      }
      val pairSet = pairs.map(p => (p._1, p._2))
      pairs == brute &&
        edges.subsetOf(pairSet) &&
        pairSet.map(_._2) == edges.map(_._2) &&
        comps(pairSet) == comps(edges)
    }
  }

  property("multimodal decode never throws on arbitrary bytes, whatever " +
    "magic they open with (a decode pipeline must not die on one corrupt " +
    "asset)") = {
    import graft.operators.Multimodal
    val magicGen: Gen[Seq[Byte]] = Gen.oneOf(Seq(
      Seq.empty[Byte],
      "BM".getBytes.toSeq, "P6".getBytes.toSeq, "P5".getBytes.toSeq,
      "GIF89a".getBytes.toSeq, "GIF87a".getBytes.toSeq,
      Seq(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte),
      Seq(0xff, 0xd8, 0xff).map(_.toByte),
      "RIFFxxxxWAVE".getBytes.toSeq,
      "RIFFxxxxWEBPVP8 ".getBytes.toSeq,
      "RIFFxxxxWEBPVP8L".getBytes.toSeq,
      "RIFFxxxxWEBPVP8X".getBytes.toSeq,
      ("II".getBytes.toSeq :+ 42.toByte :+ 0.toByte),
      ("MM".getBytes.toSeq :+ 0.toByte :+ 42.toByte),
      ("OggS".getBytes.toSeq :+ 0.toByte),
      (Seq[Byte](0, 0, 0, 20) ++ "ftyp".getBytes.toSeq)))
    forAll(magicGen,
      Gen.listOfN(48, Gen.chooseNum(-128, 127).map(_.toByte))) { (m, tail) =>
      val bytes = (m ++ tail).toArray
      val d = Multimodal.decode(bytes)
      // the PIXEL path must be equally crash-proof: arbitrary bytes
      // behind any magic either decode or yield None, never throw
      val px = Multimodal.decodePixels(bytes)
      px.forall(p => p.width > 0 && p.height > 0 && p.sha.length == 64) &&
      d.nFrames >= 0 && d.width >= 0 && d.height >= 0
    }
  }

  property("BPE mergeOnce == sentinel-wrapped string replace — the exact " +
    "equivalence the SQL oracle's training/application replay rests on") = {
    import graft.operators.BpeTokenizer
    val tokGen = Gen.oneOf("a", "b", "ab", "ba", "x", "aa")
    forAll(Gen.listOfN(12, tokGen), tokGen, tokGen) { (toks, a, b) =>
      val viaArray = BpeTokenizer.mergeOnce(toks.toArray, a, b).toSeq
      // the oracle's formulation: wrap each token in ..,
      // replace the wrapped pair left-to-right (Java replace == SQL
      // replace: non-overlapping, leftmost-first), unwrap
      def wrap(ts: Seq[String]) = ts.map(t => "\u0002" + t + "\u0003").mkString
      val replaced = wrap(toks).replace(wrap(Seq(a, b)), wrap(Seq(a + b)))
      val viaString =
        if (replaced.isEmpty) Seq.empty[String]
        else replaced.stripPrefix("\u0002").stripSuffix("\u0003")
          .split("\u0003\u0002", -1).toSeq
      viaArray == viaString
    }
  }

  property("BPE token counts are bounded: 1 <= n <= |word| for trainable " +
    "words, code points otherwise. (Application is deliberately ONE pass " +
    "in rank order, not a fixed point: a later merge can recreate an " +
    "earlier merge's pair \u2014 merges [(ab,c),(a,b)] on 'abc' \u2014 and " +
    "both engines replay the identical single pass.)") = {
    import graft.operators.BpeTokenizer
    val wordGen = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    val mergeGen = Gen.listOfN(3,
      Gen.zip(Gen.alphaLowerStr.suchThat(_.nonEmpty).map(_.take(2)),
        Gen.alphaLowerStr.suchThat(_.nonEmpty).map(_.take(2))))
      .map(_.zipWithIndex.map { case ((a, b), i) =>
        BpeTokenizer.Merge(i + 1, a, b)
      })
    forAll(wordGen, mergeGen) { (w, merges) =>
      val n = BpeTokenizer.tokenCountOf(w, merges)
      n >= 1 && n <= w.length &&
        BpeTokenizer.tokenCountOf("\u65e5\u672c\u8a9e", merges) == 3L
    }
  }

  property("removeRepeatedSpans == driver-side brute force on random " +
    "duplicate-heavy corpora (coverage union, reassembly order, " +
    "full-cover husks)") = {
    import graft.operators.TrainingData
    val pool = Seq("a", "b", "c", "d")
    val textGen = Gen.listOfN(6, Gen.oneOf(pool)).map(_.mkString(" "))
    forAll(Gen.listOfN(6, textGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = TrainingData.removeRepeatedSpans(
          docs.toDF("id", "text"), col("id"), col("text"),
          n = 2, minDocFreq = 2)
        .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
      // brute force
      val toks = docs.map { case (i, t) => i -> t.split(" ").toSeq }
      val dfCount = scala.collection.mutable.Map[String, Set[Long]]()
      for ((i, t) <- toks; s <- 0 to t.length - 2) {
        val g = t.slice(s, s + 2).mkString(" ")
        dfCount(g) = dfCount.getOrElse(g, Set.empty) + i
      }
      val common = dfCount.filter(_._2.size >= 2).keySet
      val expected = toks.map { case (i, t) =>
        val covered = (0 to t.length - 2)
          .filter(s => common(t.slice(s, s + 2).mkString(" ")))
          .flatMap(s => Seq(s, s + 1)).toSet
        val kept = t.indices.filterNot(covered).map(t)
        (i, kept.size.toLong, (t.size - kept.size).toLong,
          kept.mkString(" "))
      }
      got == expected
    }
  }

  property("LSH results come from the true distance ordering, sorted") =
    forAll(Gen.listOfN(12, nonZeroVec)) { vs =>
      val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val got = lshTopK(rows, vs.head, k = 2)
      val all = flatTopK(rows, vs.head, k = rows.size)
      got.forall(all.contains) && got == got.sortBy(r => (r._2, r._1))
    }

  property("TopK.perGroup == global window on ties, duplicate ids, " +
    "-0.0/NaN/Inf/null scores, UTF-8-ordered string ids, short groups") = {
    import org.apache.spark.sql.expressions.Window
    // "\uE000" < "\uD83D\uDE00" in UTF-8 bytes (Spark's order), ">" in UTF-16
    val strIds = Seq("a", "b", "\uE000", "\uD83D\uDE00", "\uFFFF", "z")
    val score: Gen[Option[Double]] = Gen.frequency(
      6 -> Gen.chooseNum(0, 4).map(i => Some(i.toDouble)), // ties
      1 -> Gen.const(Some(0.0)), 1 -> Gen.const(Some(-0.0)),
      1 -> Gen.const(Some(Double.NaN)),
      1 -> Gen.const(Some(Double.PositiveInfinity)), 1 -> Gen.const(None))
    // group 3 is rare, so it often holds fewer than k rows
    val group = Gen.frequency(5 -> Gen.const(0L), 5 -> Gen.const(1L),
      2 -> Gen.const(2L), 1 -> Gen.const(3L))
    val row = Gen.zip(group, score, Gen.chooseNum(0, strIds.size - 1))
    // equal-ordering scores (-0.0 == 0.0, NaN == NaN) may pick either row
    def canon(d: Any): String = d match {
      case null => "null"
      case x: Double if x.isNaN => "NaN"
      case x: Double if x == 0.0 => "0.0"
      case x => x.toString
    }
    forAll(Gen.listOfN(40, row), Gen.chooseNum(1, 8), Gen.oneOf(false, true)) {
      (rows, k, stringIds) =>
        val raw = spark.sparkContext.parallelize(rows, 3).toDF("g", "d", "i")
        val df = raw.withColumn("id",
          if (stringIds) element_at(typedLit(strIds), col("i") + 1)
          else col("i").cast("long")).drop("i")
        def multiset(out: org.apache.spark.sql.DataFrame) =
          out.select("g", "d", "id").collect()
            .map(r => (r.getLong(0), canon(r.get(1)), String.valueOf(r.get(2))))
            .toSeq.sorted
        val got = multiset(graft.operators.TopK.perGroup(df, "g", "d", "id", k))
        val w = Window.partitionBy(col("g")).orderBy(col("d"), col("id"))
        got == multiset(df.withColumn("rn", row_number().over(w)).where(col("rn") <= k))
    }
  }

  property("VectorTopK == the unfused plan (cross join, round(distance, 6) " +
    "+ 0.0, row_number window) on tied vectors, zero norms, NaN, -0.0, k > " +
    "rows, probed/fallback/mixed queries, every metric") = {
    import org.apache.spark.sql.expressions.Window
    import graft.plans.QueryProbes
    val strIds = Seq("a", "b", "\uE000", "\uD83D\uDE00", "\uFFFF", "z")
    val comp = Gen.frequency(4 -> Gen.oneOf(0f, 1f, -1f, 0.5f), 1 -> Gen.chooseNum(-1f, 1f))
    val vec3 = Gen.listOfN(3, comp).map(_.toSeq)
    // a small pool, so rows repeat vectors and tie on distance; the zero
    // vector scores +Inf under cosine, the NaN one NaN under every metric
    val pool = Gen.listOfN(3, vec3).map(_ ++ Seq(Seq(0f, 0f, 0f), Seq(1f, Float.NaN, 0f)))
    val bucket = Gen.frequency(6 -> Gen.chooseNum(0L, 2L).map(Some(_)), 1 -> Gen.const(None))
    // None: a fallback query; Some(buckets): a probed one
    val probe = Gen.oneOf(Gen.const(None),
      Gen.nonEmptyListOf(Gen.chooseNum(0L, 3L)).map(bs => Some(bs.distinct)))
    val input = for {
      vs <- pool
      rows <- Gen.listOfN(24, Gen.zip(Gen.chooseNum(0, vs.size - 1), bucket))
      qs <- Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, Gen.zip(Gen.oneOf(vs), probe)))
      // mostly a cut that splits tied rows, sometimes k > rows
      k <- Gen.frequency(3 -> Gen.chooseNum(1, 10), 1 -> Gen.chooseNum(25, 30))
      metric <- Gen.oneOf("cosine", "euclidean", "dot_product")
    } yield (vs, rows, qs, k, metric)
    // no shrinking: a shrunk metric name is no metric
    org.scalacheck.Prop.forAllNoShrink(input) { case (vs, rows, qs, k, metric) =>
      val data = rows.zipWithIndex.map { case ((v, b), i) =>
        (strIds(i % strIds.size) + (i / strIds.size), vs(v), b)
      }
      val frame = spark.sparkContext.parallelize(data, 3).toDF("id", "embedding", "bucket")
      val plan = QueryProbes(qs.zipWithIndex.map { case ((q, _), i) => i * 10L -> q.toArray },
        qs.zipWithIndex.flatMap { case ((_, p), i) => p.map(i * 10L -> _) })
      val scan = if (plan.probes.isEmpty) frame.select("id", "embedding") else frame
      def bits(out: org.apache.spark.sql.DataFrame) =
        out.select("query_id", "id", "distance").collect()
          .map(r => (r.getLong(0), r.getString(1),
            java.lang.Double.doubleToLongBits(r.getDouble(2))))
          .toSeq.sorted
      val got = bits(graft.operators.TopK.nearest(scan, plan, metric, k))
      val queries = qs.zipWithIndex.map { case ((q, p), i) => (i.toLong * 10, q, p.orNull) }
        .toDF("query_id", "qvec", "probe")
      val w = Window.partitionBy(col("query_id")).orderBy(col("distance"), col("id"))
      val expect = bits(frame.crossJoin(queries)
        .where(col("probe").isNull || array_contains(col("probe"), col("bucket")))
        .withColumn("distance",
          round(distance(metric)(col("embedding"), col("qvec")), 6) + lit(0.0d))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= k))
      got == expect
    }
  }

  property("as-of join == per-row brute-force latest-at-or-before") = {
    import graft.operators.AsOfJoin
    val tsGen = Gen.chooseNum(0L, 40L)
    forAll(Gen.listOfN(12, Gen.zip(Gen.chooseNum(0L, 2L), tsGen)),
      Gen.listOfN(12, Gen.zip(Gen.chooseNum(0L, 2L), tsGen))) { (ls, rs) =>
      def ts(n: Long) = new java.sql.Timestamp(n * 1000L)
      val left = ls.zipWithIndex.map { case ((key, t), i) => (i.toLong, key, ts(t)) }
      // contract: right unique per (key, ts) — keep max id on ties
      val right = rs.zipWithIndex.map { case ((key, t), i) => (i.toLong, key, ts(t)) }
        .groupBy(x => (x._2, x._3)).values.map(_.maxBy(_._1)).toSeq
      val got = AsOfJoin.backward(
          left.toDF("event_id", "k", "ts"), right.toDF("rid", "k", "rts"),
          "k", "ts", "rts", Seq("rid"))
        .select("event_id", "asof_rid").collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
        .toMap
      val expect = left.map { case (id, key, t) =>
        val cand = right.filter(r => r._2 == key && !r._3.after(t))
        id -> (if (cand.isEmpty) None
               else Some(cand.maxBy(r => (r._3.getTime, r._1))._1))
      }.toMap
      got == expect
    }
  }

  /** Per-kind search parity (generalizes the fallback≡flat property to
    * every compact/partitioned representation): at SATURATING budgets —
    * rescore >= n, nprobe >= C, every cell probed — the sq8, pq,
    * residual-IVFPQ, and IVF funnels must return EXACTLY the flat
    * ranking, for ANY valid model. Codebooks and centroids are therefore
    * GENERATED, not trained: saturation means approximate ordering can
    * only select candidates, never rank survivors, so arbitrary (even
    * adversarial) models cannot change the result — which is precisely
    * the two-phase contract. */
  property("sq8/pq/ivfpq/ivf funnels == flat at saturating budgets, " +
    "for any generated model") = {
    import graft.operators.{IvfIndex, Quantization, ProductQuantization => PQ}
    def flatTopKMetric(rows: Seq[(Long, Seq[Float])], q: Seq[Float],
                       metric: String, k: Int) = {
      val df = rows.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      df.crossJoin(broadcast(Seq(Tuple1(q)).toDF("qvec")
          .select(col("qvec").cast("array<float>").as("qvec"))))
        .withColumn("distance",
          round(distance(metric)(col("embedding"), col("qvec")), 6) + lit(0.0d))
        .select(col("vec_id"), col("distance"))
        .orderBy(col("distance"), col("vec_id")).limit(k)
        .as[(Long, Double)].collect().toSeq
    }
    val subVecGen: Gen[Array[Float]] =
      Gen.listOfN(2, Gen.chooseNum(-1.0f, 1.0f)).map(_.toArray)
    val codebookGen: Gen[PQ.Model] =
      Gen.listOfN(4, subVecGen).map { cents =>
        (0 until 2).map(m => (0 until 2).map(c =>
          IvfIndex.Centroid(c.toLong, cents(m * 2 + c))))
      }
    val centroidsGen: Gen[Seq[IvfIndex.Centroid]] =
      Gen.listOfN(2, vecGen).map(_.zipWithIndex.map { case (v, i) =>
        IvfIndex.Centroid(i.toLong, v.toArray) })
    forAll(Gen.listOfN(8, vecGen), nonZeroVec, codebookGen, centroidsGen) {
      (vs, q, model, cents) =>
        val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        val n = rows.size
        val df = rows.toDF("vec_id", "embedding")
          .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
        val qa = q.toArray
        // sq8 under cosine
        val sq8 = Quantization.search(Quantization.encode(df, col("embedding")),
            "embedding", "vec_id", qa, k = 3, rescore = n, metric = "cosine")
          .as[(Long, Double)].collect().toSeq
        // pq under cosine (stored norm)
        val pq = PQ.search(PQ.encode(df, col("embedding"), model, withNorm = true),
            "embedding", "vec_id", model, qa, k = 3, rescore = n,
            metric = "cosine")
          .as[(Long, Double)].collect().toSeq
        // residual IVFPQ under euclidean, every cell probed
        val withCell = IvfIndex.withCell(df, col("embedding"), cents)
        val ivfpq = PQ.searchResidual(
            PQ.encodeResidual(withCell, col("embedding"), col("cell"), cents, model),
            "embedding", "vec_id", model, cents, cents.map(_.id), qa,
            k = 3, rescore = n, metric = "euclidean")
          .as[(Long, Double)].collect().toSeq
        // ivf under cosine, nprobe = C
        val ivf = IvfIndex.search(withCell, "embedding", "vec_id", cents, qa,
            nprobe = cents.size, "cosine", k = 3)
          .as[(Long, Double)].collect().toSeq
        sq8 == flatTopKMetric(rows, q, "cosine", 3) &&
          pq == flatTopKMetric(rows, q, "cosine", 3) &&
          ivfpq == flatTopKMetric(rows, q, "euclidean", 3) &&
          ivf == flatTopKMetric(rows, q, "cosine", 3)
    }
  }

  property("packAssignments == the sequential concat-and-chunk reference " +
    "for random token counts, budgets, and shard counts") = {
    import graft.operators.TrainingData
    val rowsGen: Gen[List[Long]] =
      Gen.chooseNum(1, 40).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(0L, 200L)))
    forAll(rowsGen, Gen.chooseNum(1L, 64L), Gen.chooseNum(1, 9)) {
      (counts, budget, shards) =>
        val rows = counts.zipWithIndex.map { case (c, i) => (i.toLong, c) }
        var off = 0L
        val expected = rows.map { case (id, n) =>
          val r = (id, off, off / budget, off % budget,
            (off + math.max(n, 1L) - 1) / budget)
          off += n
          r
        }.toSet
        val got = TrainingData.packAssignments(rows.toDF("id", "n"),
            col("id"), col("n"), budget = budget, shards = shards)
          .select("id", "offset", "seq_first", "seq_pos", "seq_last")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        got == expected
    }
  }

  property("mixtureSample keeps exactly the rows its documented rule " +
    "selects, for random group shapes and targets") = {
    import graft.operators.TrainingData
    val groupsGen: Gen[List[String]] =
      Gen.chooseNum(4, 60).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c")))
    forAll(groupsGen, Gen.chooseNum(0.1, 0.9)) { (gs, tA) =>
      // ensure both targeted groups exist (the operator loudly rejects
      // an absent targeted group — separately spec'd)
      val all = gs ++ List("a", "b")
      val rows = all.zipWithIndex.map { case (g, i) => (i.toLong, g) }
      val targets = Map("a" -> tA, "b" -> (1.0 - tA))
      val counts = rows.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
      val cap = targets.map { case (g, t) => counts(g) / t }.min
      def md5Bucket(id: Long): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(("mix:" + id.toString).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 8)
        java.lang.Long.parseLong(hex, 16) % 1000000L
      }
      val expected = rows.filter { case (id, g) =>
        targets.get(g).exists { t =>
          val rate = math.min(1.0, t * cap / counts(g))
          md5Bucket(id) < math.floor(rate * 1000000).toLong
        }
      }.map(_._1).toSet
      val got = TrainingData.mixtureSample(rows.toDF("id", "g"),
          col("id"), col("g"), targets)
        .select("id").as[Long].collect().toSet
      got == expected
    }
  }
}
