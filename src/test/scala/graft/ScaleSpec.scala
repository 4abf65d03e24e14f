package graft

import org.apache.spark.sql.functions._
import graft.scale.{Dedup, Similarity, TextAnalysis, Multimodal}
import graft.streaming.EventWindows

class ScaleSpec extends SparkTestBase {
  import spark.implicits._

  lazy val docs = Tables.documents(spark, SF)

  test("minhash LSH finds every exact near-dup pair (recall at j>=0.5)") {
    val exact = Dedup.ngramJaccard(docs, "text", "doc_id", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLsh(docs, "text", "doc_id", 3, 16, 8, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(exact.subsetOf(lsh) || (exact -- lsh).size <= exact.size / 10,
      s"LSH missed ${(exact -- lsh).size}/${exact.size} pairs")
    assert(lsh.subsetOf(exact), "LSH emitted pairs below the verify threshold")
  }

  test("ngramJaccard maxDf cap: no-op at high cap, only removes pairs at low cap") {
    def pairs(maxDf: Option[Int]) =
      Dedup.ngramJaccard(docs, "text", "doc_id", 3, 0.5, maxDf)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(None)
    assert(pairs(Some(1000000)) == exact, "huge cap must be a no-op")
    val capped = pairs(Some(3))
    assert(capped.subsetOf(exact), "cap may only drop pairs, never invent them")
  }

  test("simhash pairs overlap the exact near-dup set") {
    val exact = Dedup.ngramJaccard(docs, "text", "doc_id", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simHashPairs(docs, "text", "doc_id", 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.nonEmpty)
    assert((sim intersect exact).size >= sim.size / 2,
      s"simhash pairs mostly disjoint from exact near-dups: ${sim.size} vs overlap ${(sim intersect exact).size}")
  }

  test("ANN LSH results are a subset of brute-force rankings' vectors") {
    val ids = Seq(0L, 1L, 2L)
    val bf = Similarity.bruteForceTopK(Tables.embeddings(spark, SF), ids, 50, "embedding", "vec_id")
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.lshTopK(Tables.embeddings(spark, SF), ids, 5, "embedding", "vec_id")
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ann.nonEmpty)
    // every ANN hit is a real vector pairing (sanity; exact rank coverage
    // is probabilistic by design)
    assert(ann.forall { case (q, v) => q != v })
  }

  test("lshTopK infers dim from data — high-dim vectors don't overflow the planes") {
    // 100-dim vectors (> the old hardcoded 64-dim planes) must not throw
    val dim = 100
    val vecs = (0L until 30L).map { i =>
      (i, Array.tabulate(dim)(j => math.sin(i * 31 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(vecs, Seq(0L, 1L), 3, "embedding", "vec_id")
    out.collect() // would throw ArrayIndexOutOfBounds before the fix
    assert(Similarity.inferDim(vecs, "embedding") == dim)
  }

  test("per-series forecast baselines: naive flat, drift linear, seasonal repeats") {
    import graft.scale.PerSeriesForecast
    // two clean series: 1,2,..,10 (drift should extend the line) and constant 5
    val rows = (1 to 10).map(i => (1L, i.toLong, i.toDouble)) ++
               (1 to 10).map(i => (2L, i.toLong, 5.0))
    val df = rows.toDF("sid", "t", "y").withColumn("ts", timestamp_seconds($"t"))
    def grab(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(2))).toMap
    val naive = grab(PerSeriesForecast.naive(df, "y", "ts", Seq("sid"), 3))
    assert(naive((1L, 1)) == 10.0 && naive((1L, 3)) == 10.0 && naive((2L, 2)) == 5.0)
    val drift = grab(PerSeriesForecast.drift(df, "y", "ts", Seq("sid"), 3))
    assert(drift((1L, 1)) == 11.0 && drift((1L, 3)) == 13.0 && drift((2L, 3)) == 5.0)
    val season = grab(PerSeriesForecast.seasonalNaive(df, "y", "ts", Seq("sid"), 5, 3))
    // last season of series 1 = (8,9,10); h=1..5 -> 8,9,10,8,9
    assert(Seq(1, 2, 3, 4, 5).map(h => season((1L, h))) == Seq(8.0, 9.0, 10.0, 8.0, 9.0))
  }

  test("per-series ARIMA fits every user independently (constants forecast exactly)") {
    import graft.scale.PerSeriesArima
    import graft.models.ArimaCss
    // AR(1)-ish series for 3 users + one constant (degenerate) user
    def ar1(seed: Int, n: Int): Seq[Double] = {
      val r = graft.core.DetRandom.doubles(seed.toLong); var y = 0.0
      (0 until n).map { _ => y = 0.7 * y + r(); y }
    }
    val rows = (1 to 3).flatMap(u => ar1(u, 60).zipWithIndex.map {
      case (v, i) => (u.toLong, i.toDouble, v)
    }) ++ (0 until 60).map(i => (9L, i.toDouble, 1.0))
    val df = rows.toDF("sid", "t", "y")
    val out = PerSeriesArima.forecastPerSeries(df, "y", "t", "sid", ArimaCss.Spec(1, 0, 0), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val users = out.map(_._1).toSet
    assert(users == Set(1L, 2L, 3L, 9L), s"all series fitted: $users")
    assert(out.count(_._2 == 1L) == 4 && out.forall(!_._3.isNaN))
    // CSS on a constant series is exact: the forecast IS the constant
    out.filter(_._1 == 9L).foreach { case (_, _, v) => assert(math.abs(v - 1.0) < 1e-6) }
  }

  test("IVF ANN: all hits are valid pairings and recall@k overlaps brute force") {
    val ids = Seq(0L, 1L, 2L, 3L, 4L)
    val em = Tables.embeddings(spark, SF)
    val bf = Similarity.bruteForceTopK(em, ids, 5, "embedding", "vec_id")
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(em, ids, 5, "embedding", "vec_id", nCells = 8, nProbe = 3)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ivf.nonEmpty && ivf.forall { case (q, v) => q != v })
    val recall = (ivf.toSet intersect bf).size.toDouble / bf.size
    assert(recall >= 0.3, s"IVF recall@5 too low: $recall")
  }

  test("IVF with exhaustive probing is exact regardless of Lloyd iterations") {
    val ids = Seq(0L, 1L, 2L, 3L, 4L)
    val em = Tables.embeddings(spark, SF)
    val bf = Similarity.bruteForceTopK(em, ids, 5, "embedding", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // any centroid configuration partitions the corpus, so probing every
    // cell must reproduce the exact ranking — for 0, 1, and 2 refinements
    for (iters <- Seq(0, 2)) {
      val ivf = Similarity.ivfTopK(em, ids, 5, "embedding", "vec_id",
          nCells = 8, nProbe = 8, lloydIters = iters)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(ivf == bf, s"exhaustive IVF (lloydIters=$iters) != brute force")
    }
  }

  test("language id picks the right language on known sentences") {
    val df = Seq(
      (1L, "the cat is in the house and it is warm"),
      (2L, "der hund ist nicht mit der katze und das ist gut"),
      (3L, "le chat est dans la maison et il est pour les amis"),
      (4L, "el perro es grande y la casa es para los amigos")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.languageId(df, "text")
      .select("doc_id", "pred_lang").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "fr" && got(4L) == "es")
  }

  test("quality score is within [0,1] and penalizes garbage") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog and runs to the hills in a day of sun and wind"),
                 (2L, "a,b.!??;;;:..")).toDF("doc_id", "text")
    val q = TextAnalysis.qualityScore(df, "text")
      .select("doc_id", "quality").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(1L) > q(2L))
    assert(q.values.forall(v => v >= 0 && v <= 1.0001))
  }

  test("multimodal plumbing: binary -> meta struct -> features -> frames") {
    val withMedia = Multimodal.attachBinary(docs.limit(10), "text")
    assert(withMedia.schema("media").dataType.typeName == "binary")
    val meta = Multimodal.decodeMeta(withMedia)
    val m = meta.select("meta.width", "meta.height", "meta.format", "meta.n_bytes").collect()
    assert(m.forall(r => r.getInt(0) >= 32 && r.getInt(0) < 96))
    assert(m.forall(r => Seq("jpeg", "png", "webp").contains(r.getString(2))))
    val feats = Multimodal.extractFeatures(withMedia, 8)
    assert(feats.select("features").head().getSeq[Float](0).length == 8)
    val frames = Multimodal.sampleFrames(withMedia, 64, 3)
    assert(frames.groupBy("doc_id").count().collect().forall(_.getLong(1) <= 3))
    // resize of NON-image bytes: stub path — payload becomes exactly w*h
    // cycle-padded bytes, meta follows
    val resized = Multimodal.resize(meta, 16, 4).select("media", "meta.width", "meta.n_bytes")
    val orig = meta.select("media").head().getAs[Array[Byte]](0)
    val r0 = resized.head()
    val out = r0.getAs[Array[Byte]](0)
    assert(out.length == 64 && r0.getInt(1) == 16 && r0.getLong(2) == 64L)
    assert(out.toSeq == (0 until 64).map(i => orig(i % orig.length)))
  }

  test("trendForecastBands: proper OLS prediction intervals widen with horizon") {
    import spark.implicits._
    import graft.scale.PerSeriesForecast
    // two series: a clean line + noise, and a 2-point degenerate series
    val r = graft.core.DetRandom.doubles(13L)
    val rows = (0 until 40).map(i => (1L, i.toLong, 2.0 + 0.5 * i + r())) ++
               Seq((2L, 0L, 5.0), (2L, 1L, 6.0))
    val df = rows.toDF("sid", "t", "y").withColumn("ts", timestamp_seconds($"t"))
    val out = PerSeriesForecast.trendForecastBands(df, "y", "ts", Seq("sid"), 4)
      .collect().map(x => (x.getLong(0), x.getInt(1)) ->
        (x.getDouble(2), Option(x.get(3)).map(_.asInstanceOf[Double]))).toMap
    // series 1: se strictly widens with h, yhat tracks the line
    val ses = (1 to 4).map(h => out((1L, h))._2.get)
    assert(ses == ses.sorted && ses.distinct.size == 4, s"bands not widening: $ses")
    assert(math.abs(out((1L, 1))._1 - (2.0 + 0.5 * 40)) < 1.0)
    // n=2 series: no residual dof, bands are null, yhat extends the line
    assert(out((2L, 1))._2.isEmpty)
    assert(math.abs(out((2L, 2))._1 - 8.0) < 1e-9)
  }

  test("unigramLogProb: common-vocabulary docs outrank rare-vocabulary docs") {
    import spark.implicits._
    import graft.scale.TextAnalysis
    // corpus: 'common' appears everywhere, 'rareN' tokens once each
    val df = Seq(
      (1L, "common common common common"),
      (2L, "common common rare1 common"),
      (3L, "rare2 rare3 rare4 rare5")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.unigramLogProb(df, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> (x.getDouble(1), x.getLong(2))).toMap
    assert(r(1)._2 == 4 && r(3)._2 == 4)
    // all-common > mixed > all-rare, strictly
    assert(r(1)._1 > r(2)._1 && r(2)._1 > r(3)._1, s"ordering violated: $r")
    // exact value check for doc 1: count(common)=7 over N=12, V=6 ⇒
    // p(common) = (7 + 0.5) / (12 + 0.5·7)
    val expect = math.log(7.5 / 15.5)
    assert(math.abs(r(1)._1 - expect) < 1e-12, s"${r(1)._1} vs $expect")
  }

  test("unigramLogProb: top-V pruning folds residual mass into OOV, preserves ordering") {
    import spark.implicits._
    import graft.scale.TextAnalysis
    val df = Seq(
      (1L, "common common common common"),
      (2L, "common common rare1 common"),
      (3L, "rare2 rare3 rare4 rare5")
    ).toDF("doc_id", "text")
    // topV=1 keeps only 'common' (cnt 7); rare1..rare5 (mass 5) share the
    // OOV bucket. N=12, V=1 ⇒ denom = 12 + 0.5·2 = 13.
    val r = TextAnalysis.unigramLogProb(df, "text", "doc_id", topV = 1)
      .collect().map(x => x.getLong(0) -> (x.getDouble(1), x.getLong(2))).toMap
    assert(r.values.forall(_._2 == 4))
    // quality ordering survives pruning
    assert(r(1)._1 > r(2)._1 && r(2)._1 > r(3)._1, s"ordering violated: $r")
    // exact: doc 1 all in-vocab, doc 3 all OOV (each OOV token scores the
    // full bucket mass 5)
    assert(math.abs(r(1)._1 - math.log(7.5 / 13.0)) < 1e-12)
    assert(math.abs(r(3)._1 - math.log(5.5 / 13.0)) < 1e-12)
    // pruned scores ranked identically to the unpruned scores on this corpus
    val full = TextAnalysis.unigramLogProb(df, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val byPruned = r.toSeq.sortBy(_._2._1).map(_._1)
    val byFull = full.toSeq.sortBy(_._2).map(_._1)
    assert(byPruned == byFull, s"rank flip: pruned=$byPruned full=$byFull")
  }

  test("lineDedup: corpus-wide first occurrence wins, docs reassembled in order") {
    import spark.implicits._
    import graft.scale.Curation
    val df = Seq(
      (1L, "alpha\nboiler\nbravo"),
      (2L, "boiler\ncharlie\nboiler"),  // head AND tail copies of doc 1's line
      (3L, "boiler")                    // nothing but the duplicate
    ).toDF("doc_id", "text")
    val r = Curation.lineDedup(df, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> (x.getString(1), x.getLong(2), x.getLong(3))).toMap
    // doc 1 keeps everything (it owns the first 'boiler')
    assert(r(1L) == (("alpha\nboiler\nbravo", 3L, 3L)))
    // doc 2 loses BOTH later copies, surviving lines keep original order
    assert(r(2L) == (("charlie", 1L, 3L)))
    // doc 3 empties but stays addressable with its line counts
    assert(r(3L) == (("", 0L, 1L)))
  }

  test("lineDedup: idempotent, and the cleaned corpus carries no duplicate line") {
    import spark.implicits._
    import graft.scale.Curation
    // LCG corpus over a tiny line vocabulary — plenty of cross-doc dups
    var st = 5L
    def lcg(): Int = {
      st = st * 6364136223846793005L + 1442695040888963407L
      ((st >>> 11) % 7).toInt
    }
    val df = (0 until 40).map { i =>
      (i.toLong, (0 until 5).map(_ => s"line${lcg()}").mkString("\n"))
    }.toDF("doc_id", "text")
    val once = Curation.lineDedup(df, "text", "doc_id")
    // the cleaned corpus has each surviving line exactly once
    val lineCounts = once.filter(length(col("clean_text")) > 0)
      .select(explode(split(col("clean_text"), "\n")).as("l"))
      .groupBy("l").count().filter(col("count") > 1).count()
    assert(lineCounts == 0, s"$lineCounts duplicate lines survive")
    // ... so a second pass changes nothing (id is the tie-break key on
    // both passes, and every remaining line is already unique)
    val again = Curation.lineDedup(
      once.select(col("id").as("doc_id"), col("clean_text").as("text")),
      "text", "doc_id")
    val a = once.select(col("id"), col("clean_text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = again.select(col("id"), col("clean_text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b, "lineDedup not idempotent")
    // and real work happened on this corpus
    assert(once.agg(sum(col("n_lines_kept"))).head().getLong(0) <
           once.agg(sum(col("n_lines_total"))).head().getLong(0))
  }

  test("repetitionStats: Gopher filters flag degenerate docs, pass normal text") {
    import spark.implicits._
    import graft.scale.TextAnalysis
    val df = Seq(
      (1L, "spark builds a plan from many distinct operator nodes here"),
      (2L, "buy now buy now buy now buy now buy now buy now"),
      (3L, "one two three one two three one two three one two three"),
      (4L, "solo")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(df, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> x).toMap
    // all-distinct tokens: every fraction at its floor, kept
    assert(r(1).getDouble(2) == 0.1) // top token 1/10
    assert(r(1).getDouble(4) == 0.0) // no repeated trigram
    assert(r(1).getBoolean(5))
    // "buy now" ×6: top bigram = 6/11, dup trigrams dominate — dropped
    assert(r(2).getDouble(3) > 0.5 && !r(2).getBoolean(5))
    // repeated phrase of period 3 — dup_trigram_frac = 1 - 3/10, dropped
    assert(math.abs(r(3).getDouble(4) - 0.7) < 1e-9 && !r(3).getBoolean(5))
    // 1-token doc: no bigrams/trigrams exist — fractions at zero, kept
    assert(r(4).getLong(1) == 1 && r(4).getDouble(2) == 1.0 &&
      r(4).getDouble(3) == 0.0 && r(4).getDouble(4) == 0.0 && r(4).getBoolean(5))
  }

  test("imageStats/extractFeatures: real pixel statistics, exact on a known fixture") {
    import spark.implicits._
    import javax.imageio.ImageIO
    // 2x2 with known channels: sums and means are exactly representable
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xFF0000); img.setRGB(1, 0, 0x00FF00)
    img.setRGB(0, 1, 0x0000FF); img.setRGB(1, 1, 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    val st = Multimodal.imageStats(bos.toByteArray)
    assert(st.contains((2, 2, 510L, 510L, 510L)), s"stats $st")
    // the features column carries [w, h, meanR, meanG, meanB, luma, aspect, n]
    val df = Seq(0L).toDF("id").withColumn("media", lit(bos.toByteArray))
    val f = Multimodal.extractFeatures(df).select("features").head().getSeq[Float](0)
    assert(f.length == 8)
    assert(f(0) == 2.0f && f(1) == 2.0f)
    assert(f(2) == 127.5f && f(3) == 127.5f && f(4) == 127.5f)
    assert(math.abs(f(5) - 127.5f) < 1e-4, s"luma ${f(5)}")
    assert(f(6) == 1.0f && f(7) == 4.0f)
    // non-image bytes keep the stub embedding (shape contract only)
    assert(Multimodal.imageStats("words".getBytes).isEmpty)
    val g = Multimodal.extractFeatures(
      Seq(1L).toDF("id").withColumn("media", lit("words".getBytes)))
      .select("features").head().getSeq[Float](0)
    assert(g.length == 8 && g.forall(v => v >= 0.0f && v < 1.0f))
  }

  test("dHash: hand-computed gradient bits on a 9x8 identity grid; brightness-shift invariant") {
    import javax.imageio.ImageIO
    // 9x8 => the NN grid is the identity mapping. Even rows ramp UP in x
    // (every gradient bit 1), odd rows ramp DOWN (every bit 0) ->
    // hash bytes alternate 0xFF/0x00: 0x00FF00FF00FF00FF.
    def img(shift: Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 9) {
        val gray = (if (y % 2 == 0) x * 10 else 80 - x * 10) + shift
        im.setRGB(x, y, (gray << 16) | (gray << 8) | gray)
      }
      val bos = new java.io.ByteArrayOutputStream()
      ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    val h0 = Multimodal.dHash(img(0))
    assert(h0.contains(0x00FF00FF00FF00FFL), s"hash ${h0.map(_.toHexString)}")
    // uniform +10 brightness (no clipping): every gradient comparison is
    // preserved, so the perceptual hash must not move
    assert(Multimodal.dHash(img(10)) == h0, "dHash must be brightness-shift invariant")
    assert(Multimodal.dHash("words".getBytes).isEmpty)
  }

  test("resizeImage: real pixels — exact nearest-neighbor values, valid PNG out") {
    import javax.imageio.ImageIO
    import java.io.ByteArrayInputStream
    // 2x2 checkerboard, exact colors
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xFF0000); img.setRGB(1, 0, 0x00FF00)
    img.setRGB(0, 1, 0x0000FF); img.setRGB(1, 1, 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    // upscale 2x2 -> 4x4: nearest neighbor maps each source pixel to a
    // 2x2 block (srcX = x*2/4 = x/2)
    val up = Multimodal.resizeImage(bos.toByteArray, 4, 4)
    assert(up.isDefined, "PNG input must take the real path")
    val dec = ImageIO.read(new ByteArrayInputStream(up.get))
    assert(dec.getWidth == 4 && dec.getHeight == 4)
    val expect = Map((0, 0) -> 0xFF0000, (3, 0) -> 0x00FF00,
                     (0, 3) -> 0x0000FF, (3, 3) -> 0xFFFFFF,
                     (1, 1) -> 0xFF0000, (2, 2) -> 0xFFFFFF)
    expect.foreach { case ((x, y), rgb) =>
      assert((dec.getRGB(x, y) & 0xFFFFFF) == rgb, s"pixel ($x,$y)")
    }
    // downscale a deterministic 32x16 fixture to 8x4 and spot-check the
    // exact NN source mapping: out(x,y) == src(x*4, y*4)
    val srcBytes = Multimodal.encodePng(32, 16, seed = 5)
    val down = Multimodal.resizeImage(srcBytes, 8, 4).get
    val src = ImageIO.read(new ByteArrayInputStream(srcBytes))
    val dwn = ImageIO.read(new ByteArrayInputStream(down))
    for (x <- 0 until 8; y <- 0 until 4)
      assert(dwn.getRGB(x, y) == src.getRGB(x * 4, y * 4), s"NN map ($x,$y)")
    // non-image bytes refuse the real path
    assert(Multimodal.resizeImage("just text".getBytes, 4, 4).isEmpty)
  }

  test("chunkDocuments: overlap windows tile the token stream") {
    import spark.implicits._
    import graft.scale.Curation
    val doc = (1 to 50).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, doc), (2L, "short doc"), (3L, "x")).toDF("doc_id", "text")
    val chunks = Curation.chunkDocuments(df, "text", "doc_id", chunkTokens = 20, overlapTokens = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val d1 = chunks.filter(_._1 == 1L).sortBy(_._2)
    // 50 tokens, chunk 20, stride 15 -> ceil(45/15)=3 chunks
    assert(d1.length == 3)
    assert(d1(0)._3.startsWith("t1 ") && d1(0)._4 == 20)
    assert(d1(1)._3.startsWith("t16 "), d1(1)._3.take(20)) // overlap of 5
    assert(d1(2)._3.endsWith(" t50") && d1(2)._4 == 20)    // tail window full
    // short docs -> exactly one chunk, all tokens
    assert(chunks.filter(_._1 == 2L).toSeq == Seq((2L, 0L, "short doc", 2L)))
    assert(chunks.filter(_._1 == 3L).toSeq == Seq((3L, 0L, "x", 1L)))
  }

  test("hashSplit: deterministic, disjoint, roughly proportional") {
    import spark.implicits._
    import graft.scale.Sampling
    val df = (1L to 2000L).toDF("id")
    val s1 = Sampling.hashSplit(df, "id", 80, 10).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // same assignment on re-run (content-hash, not order or randomness)
    val s2 = Sampling.hashSplit(df, "id", 80, 10).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1 == s2)
    val counts = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    // prefix fences quantize to /65536ths: expect ~80% / ~10% / ~10%
    assert(math.abs(counts("train") / 2000.0 - 0.80) < 0.05, counts.toString)
    assert(counts("val") > 100 && counts("test") > 100)
    intercept[IllegalArgumentException] { Sampling.hashSplit(df, "id", 95, 10) }
  }

  test("iqrOutliers flags exactly the points beyond the Tukey fences") {
    import spark.implicits._
    import graft.stats.Quantiles
    // group g: tight cluster 10..19 plus two extremes
    val vals = (10 to 19).map(v => ("g", v.toDouble)) ++ Seq(("g", 1000.0), ("g", -1000.0))
    val out = Quantiles.iqrOutliers(vals.toDF("grp", "v"), "v", Seq("grp"))
      .collect().map(r => r.getDouble(1) -> r.getBoolean(2)).toMap
    assert(out(1000.0) && out(-1000.0))
    assert((10 to 19).forall(v => !out(v.toDouble)))
  }

  test("capPerGroup: deterministic, respects the cap, unbiased by row order") {
    import spark.implicits._
    import graft.scale.Sampling
    val rows = (1L to 40L).map(i => (s"g${i % 3}", i))
    val df = rows.toDF("grp", "id")
    val kept = Sampling.capPerGroup(df, "grp", "id", 4).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(kept.groupBy(_._1).forall(_._2.length <= 4))
    // shuffled input order -> identical kept set (hash-ordered selection)
    val kept2 = Sampling.capPerGroup(
      scala.util.Random.shuffle(rows).toDF("grp", "id"), "grp", "id", 4)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(kept.toSet == kept2.toSet)
  }

  test("components: empty pair list yields an empty component map") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val out = Dedup.components(empty, "id_a", "id_b")
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("id", "component"))
  }

  test("components: chain graph converges to one cluster, islands stay apart") {
    import spark.implicits._
    // chain 1-2-3-...-10 (diameter 9 forces multiple propagation rounds)
    // plus island {20,21} and a self-contained triangle {30,31,32}
    val pairs = ((1L to 9L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (30L, 31L), (31L, 32L), (30L, 32L))).toDF("id_a", "id_b")
    val comp = Dedup.components(pairs, "id_a", "id_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 10L).forall(comp(_) == 1L), s"chain: $comp")
    assert(comp(20L) == 20L && comp(21L) == 20L)
    assert(Seq(30L, 31L, 32L).forall(comp(_) == 30L))
    assert(comp.size == 15)
  }

  test("components: fixpoint reached exactly at the round budget still succeeds") {
    import spark.implicits._
    // with hop+jump, chain 1-2-3-4 fully labels in ONE productive round;
    // maxIter=1 exits the loop before any confirming round can observe
    // the unchanged sum, so only the post-loop probe can rescue it
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val comp = Dedup.components(chain, "id_a", "id_b", maxIter = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("components: reliable-checkpoint variant (cluster path) matches localCheckpoint") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val pairs = ((1L to 9L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (30L, 31L), (31L, 32L), (30L, 32L))).toDF("id_a", "id_b")
    val comp = Dedup.components(pairs, "id_a", "id_b", checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = Dedup.components(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == local, s"checkpoint-dir labels diverge: $comp vs $local")
    // the reliable path actually wrote checkpoint files
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "checkpoint dir is empty — reliable checkpoint not used")
    // ... scoped to a single per-call subdir of the supplied dir (global
    // setCheckpointDir state never escapes the call's own namespace)
    val bases = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    val baseList = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
    bases.forEachRemaining(p => baseList += p)
    assert(baseList.size == 1 &&
      baseList.head.getFileName.toString.startsWith("graft-ckpt-"),
      s"expected one per-call graft-ckpt subdir, got $baseList")
    // ... and superseded rounds were cleaned up: only the NEWEST uuid
    // subdir (backing the returned labels) survives the loop
    val uuidDirs = java.nio.file.Files.list(baseList.head).count()
    assert(uuidDirs == 1, s"stale checkpoint dirs not cleaned: $uuidDirs remain")
  }

  test("components: pointer jumping resolves a 200-node chain within the round cap") {
    import spark.implicits._
    // diameter 199 — plain one-hop propagation would need 199 rounds and
    // trip the maxIter guard; the pointer-jump step makes it O(log D)
    val chain = (1L to 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.components(chain, "id_a", "id_b", maxIter = 15).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 200 && comp.values.forall(_ == 1L))
  }

  test("cosineNearDup refuses inputs above its all-pairs row cap") {
    import spark.implicits._
    val vecs = (0 until 50).map(i => (i.toLong, Array(i.toDouble, 1.0)))
      .toDF("vec_id", "embedding")
    // under the cap: runs
    assert(Dedup.cosineNearDup(vecs, "embedding", "vec_id", 0.99, maxRows = 50).count() >= 0)
    // over the cap: fails fast with a pointer to the scale paths
    val e = intercept[IllegalArgumentException] {
      Dedup.cosineNearDup(vecs, "embedding", "vec_id", 0.99, maxRows = 10)
    }
    assert(e.getMessage.contains("lshTopK"))
  }

  test("real image decode: ImageIO round-trip reads true PNG dimensions") {
    // local: encode a 17x9 PNG, header-decode must return exactly that
    val png = Multimodal.encodePng(17, 9, seed = 5)
    val meta = Multimodal.decodeImageMeta(png)
    assert(meta.contains(Multimodal.MediaMeta(17, 9, "png", png.length.toLong)))
    // non-image bytes: sniff rejects, caller falls back to the stub —
    // including text that happens to start with a printable image magic
    assert(Multimodal.decodeImageMeta("just some text".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeImageMeta(
      "BMW sales rose sharply in the third quarter of the year".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeImageMeta(
      "GIF89a is the file header of the legacy image format".getBytes("UTF-8")).isEmpty)
    // a real GIF decodes — including with trailing text-transit padding
    val gifImg = new java.awt.image.BufferedImage(11, 7, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val gifBos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(gifImg, "gif", gifBos)
    val gif = gifBos.toByteArray
    assert(Multimodal.decodeImageMeta(gif).contains(
      Multimodal.MediaMeta(11, 7, "gif", gif.length.toLong)))
    val padded = gif ++ "\n  ".getBytes("UTF-8")
    assert(Multimodal.decodeImageMeta(padded).contains(
      Multimodal.MediaMeta(11, 7, "gif", padded.length.toLong)))
    // corrupt PNG (magic ok, body truncated): decode fails -> None, not a throw
    assert(Multimodal.decodeImageMeta(png.take(12)).isEmpty)
    // distributed: decodeMeta picks the real path for image payloads
    import spark.implicits._
    val df = Seq((1L, Multimodal.encodePng(33, 21, seed = 1)),
                 (2L, "plain text payload of some length".getBytes("UTF-8")))
      .toDF("id", "media")
    val rows = Multimodal.decodeMeta(df)
      .select($"id", $"meta.width", $"meta.height", $"meta.format")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(rows(1L) == ((33, 21, "png")))
    val n = "plain text payload of some length".getBytes("UTF-8").length
    assert(rows(2L) == (((32 + n % 64).toInt, (32 + n * 7 % 64).toInt,
      Seq("jpeg", "png", "webp")(n % 3))))
  }

  test("streaming tumbling window equals the batch aggregation") {
    val batch = EventWindows.tumblingBatch(Tables.events(spark, SF), "1 hour")
      .select($"window_start".cast("string"), $"event_type", $"n",
              round($"total_value", 6).as("v"))
      .collect().map(_.toSeq).toSet
    val stream = EventWindows.tumblingStreaming(spark, SF, "1 hour")
      .select($"window_start".cast("string"), $"event_type", $"n",
              round($"total_value", 6).as("v"))
      .collect().map(_.toSeq).toSet
    assert(batch == stream, s"batch ${batch.size} windows vs stream ${stream.size}")
  }

  test("temperatureSample: smallest source kept whole, rates monotone in size, mod rule exact") {
    val out = graft.scale.Sampling.temperatureSample(docs, "source", "doc_id", 0.5)
    val rates = out.groupBy($"source")
      .agg(max($"n_src").as("n"), max($"permille").as("p"), count(lit(1)).as("kept"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    // smallest source keeps everything
    val minRow = rates.minBy(_._2)
    assert(minRow._3 == 1000, s"smallest source permille ${minRow._3}")
    // bigger source => lower (or equal) keep rate
    for (pair <- rates.sortBy(_._2).sliding(2) if pair.length == 2)
      assert(pair(0)._3 >= pair(1)._3, s"rates not monotone: ${pair.toSeq}")
    // expected kept counts proportional to sqrt(n): kept/n == permille/1000 under mod rule
    // mod rule exact: every kept id satisfies it
    val bad = out.filter(pmod($"doc_id", lit(1000)) >= $"permille").count()
    assert(bad == 0)
    // and nothing below the fence was dropped
    val total = rates.map(_._4).sum
    val expect = docs.join(
      out.select($"source", $"permille").distinct(), Seq("source"))
      .filter(pmod($"doc_id", lit(1000)) < $"permille").count()
    assert(total == expect)
  }

  test("decontaminateBloom: superset of exact hits, counts never undercount") {
    val train = docs.filter($"source" =!= "src0")
    val eval = docs.filter($"source" === "src0")
    val exact = graft.scale.Curation.decontaminate(train, eval, "text", "doc_id", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = graft.scale.Curation.decontaminateBloom(train, eval, "text", "doc_id", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every exactly-contaminated doc is flagged, with at least the exact count
    for ((id, n) <- exact)
      assert(bloom.getOrElse(id, 0L) >= n, s"doc $id: bloom ${bloom.get(id)} < exact $n")
    // false positives exist but are bounded: flagged doc set should not explode
    assert(bloom.size <= exact.size + math.max(5, train.count() / 10),
      s"bloom flagged ${bloom.size} docs vs exact ${exact.size}")
  }

  test("curate: gate, dedup, and decontam invariants all hold on the output") {
    val train = docs.filter($"source" =!= "src0")
    val eval = docs.filter($"source" === "src0")
    val out = graft.scale.Curation.curate(train, eval, "text", "doc_id",
      scoreCol = "n_chars", minChars = 100, ngram = 4)
    // gate: every survivor passes the length gate
    assert(out.filter(length($"text") < 100).count() == 0)
    // dedup: no two survivors share a content hash, and n_dups counts the cluster
    assert(out.groupBy(md5($"text")).count().filter($"count" > 1).count() == 0)
    val clusters = train.filter(length($"text") >= 100)
      .groupBy(md5($"text").as("h")).agg(count(lit(1)).as("n"))
    val mismatch = out.withColumn("h", md5($"text"))
      .join(clusters, "h").filter($"n_dups" =!= $"n").count()
    assert(mismatch == 0)
    // decontam: re-running exact decontamination on the output finds nothing
    assert(graft.scale.Curation.decontaminate(out, eval, "text", "doc_id", 4).count() == 0)
  }

  test("QualityClassifier: separates vocab-distinct classes near-perfectly on holdout") {
    // two classes with genuinely distinct vocabularies (the documents
    // table's lang/source labels share one vocabulary — no signal there)
    val goodWords = Seq("the", "house", "garden", "morning", "coffee", "window",
      "river", "mountain", "evening", "quiet")
    val junkWords = Seq("zxq", "qqw", "xx9", "kl3", "vv0", "jjq", "zz7", "qp2",
      "wwx", "b4n")
    val r = new scala.util.Random(7)
    def doc(words: Seq[String]) =
      Seq.fill(12)(words(r.nextInt(words.length))).mkString(" ")
    val rows = (0 until 40).map { i =>
      if (i % 2 == 0) (i.toLong, doc(goodWords), "good")
      else (i.toLong, doc(junkWords), "junk")
    }
    val df = rows.toDF("doc_id", "text", "label")
    val train = df.filter($"doc_id" % 4 =!= 0)
    val hold = df.filter($"doc_id" % 4 === 0)
    val m = graft.scale.QualityClassifier.fit(train, "text", "label",
      vocabSize = 50, maxIter = 50)
    assert(m.labels.sorted.sameElements(m.labels)) // deterministic geometry
    val scored = graft.scale.QualityClassifier.score(hold, m, "text", "doc_id")
      .join(hold.select($"doc_id", $"label"), "doc_id")
    val n = scored.count().toDouble
    val correct = scored.filter($"pred_label" === $"label").count().toDouble
    assert(correct / n >= 0.9, f"holdout accuracy ${correct / n}%.3f < 0.9")
    assert(scored.filter($"p_max" < 0 || $"p_max" > 1).count() == 0)
  }

  test("cosineNearDupLsh: exact precision (subset of brute-force pairs), bounded recall") {
    val em = Tables.embeddings(spark, SF)
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.cosineNearDup(em, "embedding", "vec_id", 0.4))
    val lsh = pairs(Dedup.cosineNearDupLsh(em, "embedding", "vec_id", 0.4))
    assert(exact.nonEmpty, "fixture should contain cosine near-dups at 0.4")
    // verify step makes precision exact
    assert(lsh.subsetOf(exact), s"LSH emitted ${(lsh -- exact).size} sub-threshold pairs")
    // recall: 1-(1-p^4)^16 with p = 1-acos(0.4)/pi ~ 0.94 AT the
    // threshold and higher above it; demand a conservative floor
    assert(lsh.size >= exact.size * 0.6,
      s"LSH recall too low: ${lsh.size}/${exact.size}")
  }

  test("semDedup: drop set is EXACTLY the within-cell upper-triangular near-dups") {
    val em = Tables.embeddings(spark, SF)
    val res = Dedup.semDedup(em, "embedding", "vec_id", 0.4, nCells = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    // partition property: every input id appears exactly once
    assert(res.length == em.count())
    assert(res.map(_._1).distinct.length == res.length)
    val cellOf = res.map { case (vid, cell, _) => vid -> cell }.toMap
    val dropped = res.collect { case (vid, _, kept) if !kept => vid }.toSet
    // recompute the rule from the brute-force twin: b is dropped iff some
    // lower-id SAME-CELL a sits at cosine >= threshold
    val exactPairs = Dedup.cosineNearDup(em, "embedding", "vec_id", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = exactPairs.collect {
      case (a, b) if cellOf(a) == cellOf(b) => b
    }.toSet
    assert(dropped == expected,
      s"drop set diverged: extra=${(dropped -- expected).size} " +
      s"missing=${(expected -- dropped).size}")
    assert(expected.nonEmpty, "fixture should produce at least one semantic drop")
  }

  test("pretrainPrep: every survivor passes all three gates; splits partition survivors") {
    import graft.scale.{Curation, Sampling}
    val out = graft.scale.Curation.pretrainPrep(docs, "text", "doc_id",
        spanL = 6, minTokens = 20)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.nonEmpty)
    assert(out.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    assert(out.map(_._1).distinct.length == out.length, "one row per doc")
    // recompute the stages independently and check membership + counts
    val stripped = Dedup.stripDuplicatedSpans(docs, "text", "doc_id", L = 6)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1) - r.getLong(2), r.getString(3)))).toMap
    val gate = TextAnalysis.repetitionStats(
        docs.sparkSession.createDataFrame(
          docs.sparkSession.sparkContext.parallelize(
            stripped.toSeq.map { case (id, (_, ct)) => org.apache.spark.sql.Row(id, ct) }),
          new org.apache.spark.sql.types.StructType()
            .add("doc_id", "long").add("ct", "string")),
        "ct", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    for ((id, split, nClean) <- out) {
      val (expClean, _) = stripped(id)
      assert(nClean == expClean, s"doc $id clean-token count")
      assert(nClean >= 20, s"doc $id under the length gate")
      assert(gate(id), s"doc $id should have been repetition-gated")
    }
    // nothing that passes all gates is missing
    val expected = stripped.collect {
      case (id, (n, _)) if n >= 20 && gate(id) => id
    }.toSet
    assert(out.map(_._1).toSet == expected)
  }

  test("vocabProfile: HLL estimate within 5% of exact per group") {
    val rows = TextAnalysis.vocabProfile(docs, "text", "source").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (exact, hll) = (r.getLong(2), r.getLong(3))
      assert(exact > 0)
      assert(math.abs(hll - exact).toDouble / exact <= 0.05,
        s"group ${r.getString(0)}: hll $hll vs exact $exact")
    }
  }

  test("pcaWhiten: whitened projection has identity covariance; sign-deterministic") {
    val em = Tables.embeddings(spark, SF)
    val k = 6
    val proj = Similarity.pcaWhiten(em, "embedding", "vec_id", k)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(proj.size == em.count())
    val n = proj.size.toDouble
    val xs = proj.values.toArray
    val mean = Array.tabulate(k)(c => xs.map(_(c)).sum / n)
    for (a <- 0 until k; b <- a until k) {
      val cov = xs.map(v => (v(a) - mean(a)) * (v(b) - mean(b))).sum / n
      if (a == b) assert(math.abs(cov - 1.0) < 1e-6, s"var($a)=$cov, want 1")
      else assert(math.abs(cov) < 1e-6, s"cov($a,$b)=$cov, want 0")
    }
    // deterministic across invocations (fixed eigen sign convention)
    val proj2 = Similarity.pcaWhiten(em, "embedding", "vec_id", k)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(proj.forall { case (id, v) => v.sameElements(proj2(id)) })
    // non-whitened: component variances are the top eigenvalues, descending
    val raw = Similarity.pcaWhiten(em, "embedding", "vec_id", k, whiten = false)
      .collect().map(_.getSeq[Double](1).toArray)
    val rvar = Array.tabulate(k) { c =>
      val m = raw.map(_(c)).sum / n
      raw.map(v => (v(c) - m) * (v(c) - m)).sum / n
    }
    assert(rvar.sliding(2).forall { case Array(x, y) => x >= y - 1e-9 },
      s"variances not descending: ${rvar.toSeq}")
    assert(rvar.head > rvar.last, "top component must explain more variance than the last")
  }

  test("pcaWhiten: a covariance outside the exactness envelope is a named error") {
    // |x| ≈ 2000 puts q6 products at ~4e18: below the ~3034 point where a
    // single product wraps, and the sums stay exact, but with 3 rows
    // n·max|p| crosses the envelope, so covarianceMoments emits NULL
    val vecs = Seq((1L, Array(2000.0, -1999.5)), (2L, Array(1.0, 2.0)),
      (3L, Array(-0.5, 1.5))).toDF("vec_id", "embedding")
    assert(Similarity.covarianceMoments(vecs, "embedding").filter(col("cov").isNull).count() > 0)
    val e = intercept[IllegalArgumentException] {
      Similarity.pcaWhiten(vecs, "embedding", "vec_id", 1)
    }
    assert(e.getMessage.contains("exactness envelope"), e.getMessage)
  }

  test("qualityTiers: thirds split, tiered keep rates, approx cuts agree with exact") {
    val exact = TextAnalysis.qualityTiers(docs, "text", "doc_id", topV = 20)
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getBoolean(3)))).toMap
    val n = exact.size
    assert(n == docs.count())
    val byTier = exact.values.groupBy(_._1).view.mapValues(_.size).toMap
    assert(byTier.keySet == Set("head", "middle", "tail"), s"got $byTier")
    // percentile thirds: each tier within ±2 of n/3 (ties can shift cuts)
    byTier.foreach { case (t, c) =>
      assert(math.abs(c - n / 3) <= math.max(2, n / 6), s"tier $t size $c vs n=$n") }
    // head keeps everything (1000 permille); tail keeps ~10%
    val headDocs = exact.collect { case (id, ("head", kept)) => kept }
    assert(headDocs.nonEmpty && headDocs.forall(identity), "head tier must keep all docs")
    val tailKept = exact.collect { case (_, ("tail", kept)) => kept }
    assert(tailKept.count(identity) < tailKept.size / 2, "tail tier must be downsampled")
    // the t-digest cut path assigns the same tiers at this scale
    val approx = TextAnalysis.qualityTiers(docs, "text", "doc_id", topV = 20,
        exactCuts = false)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val agree = exact.count { case (id, (t, _)) => approx(id) == t }
    assert(agree >= (n * 0.95).toInt, s"approx tiers diverge: $agree/$n agree")
  }

  test("duplicatedSpans: maximal duplicated runs on a hand-checked fixture") {
    val docs4 = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y c d e f g h q r"),
      (3L, "p q r s t u v w x y"),
      (4L, "a b c d e f g h z1 z2 z3 z4 c d e f g h i j")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs4, "text", "doc_id", L = 4)
      .collect().map(r => (r.getLong(0), r.getAs[Int]("span_start"), r.getAs[Int]("span_end")))
      .toSet
    // doc1 is covered end-to-end (its 4-grams all recur in doc4), doc2
    // shares "c d e f g h", doc3 is clean, doc4 has the two planted runs.
    assert(spans == Set((1L, 1, 10), (2L, 3, 8), (4L, 1, 8), (4L, 13, 20)))
  }

  test("stripDuplicatedSpans cuts exactly the duplicated spans") {
    val docs4 = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y c d e f g h q r"),
      (3L, "p q r s t u v w x y"),
      (4L, "a b c d e f g h z1 z2 z3 z4 c d e f g h i j")
    ).toDF("doc_id", "text")
    val out = Dedup.stripDuplicatedSpans(docs4, "text", "doc_id", L = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((10L, 10L, "")), "fully-duplicated doc strips to empty")
    assert(out(2L) == ((10L, 6L, "x y q r")))
    assert(out(3L) == ((10L, 0L, "p q r s t u v w x y")), "clean doc passes through")
    assert(out(4L) == ((20L, 16L, "z1 z2 z3 z4")))
  }

  test("duplicatedSpans invariants on the corpus + maxDf only shrinks") {
    val spans = Dedup.duplicatedSpans(docs, "text", "doc_id", L = 6).collect()
      .map(r => (r.getLong(0), r.getAs[Int]("span_start"), r.getAs[Int]("span_end")))
    assert(spans.nonEmpty, "fixture corpus should contain duplicated spans")
    assert(spans.forall { case (_, a, b) => b - a + 1 >= 6 },
      "every span covers at least L tokens")
    spans.groupBy(_._1).foreach { case (id, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, e1), (_, s2, _)) =>
          assert(s2 > e1 + 1, s"doc $id: spans not maximal/disjoint")
        case _ => ()
      }
    }
    val full = spans.map { case (id, a, b) => (id, a, b) }.toSet
    val capped = Dedup.duplicatedSpans(docs, "text", "doc_id", L = 6, maxDf = Some(2L))
      .collect().map(r => (r.getLong(0), r.getAs[Int]("span_start"), r.getAs[Int]("span_end")))
    // capping the gram document-frequency can only lose duplicated
    // positions, so every capped span nests inside some full span
    assert(capped.forall { case (id, a, b) =>
      full.exists { case (fid, fa, fb) => fid == id && fa <= a && b <= fb } })
  }

  test("mmrTopK: lambda=1 is exactly top-k; low lambda alternates planted clusters") {
    val em = Tables.embeddings(spark, SF)
    val ids = Seq(0L, 1L, 2L)
    val mmr1 = Similarity.mmrTopK(em, ids, k = 5, lambda = 1.0, candN = 50,
        "embedding", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val bf = Similarity.bruteForceTopK(em, ids, 5, "embedding", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(mmr1.toSet == bf.toSet, "lambda=1 must reduce to the plain top-k")
    // planted clusters: A = {1, 2} near-identical and most relevant to the
    // anchor, B = {3} orthogonal-ish. Plain top-2 stays inside A; MMR at
    // lambda=0.3 spends slot 2 on B.
    val fix = Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.0)),
      (1L, Array(1.0, 0.10, 0.0, 0.0)),
      (2L, Array(1.0, 0.11, 0.0, 0.0)),
      (3L, Array(0.0, 1.0, 0.0, 0.0))
    ).toDF("vec_id", "embedding")
    val top2 = Similarity.bruteForceTopK(fix, Seq(0L), 2, "embedding", "vec_id")
      .collect().map(_.getLong(2)).toSet
    assert(top2 == Set(1L, 2L), s"plain top-2 should stay in cluster A: $top2")
    val div = Similarity.mmrTopK(fix, Seq(0L), k = 2, lambda = 0.3, candN = 3,
        "embedding", "vec_id")
      .collect().sortBy(_.getLong(1)).map(_.getLong(2))
    assert(div(0) == 1L && div(1) == 3L,
      s"MMR should pick one per cluster (1 then 3): ${div.toSeq}")
    // determinism: a second run is row-identical
    val again = Similarity.mmrTopK(em, ids, k = 5, lambda = 0.7, candN = 50,
        "embedding", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val first = Similarity.mmrTopK(em, ids, k = 5, lambda = 0.7, candN = 50,
        "embedding", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(again == first, "MMR must be deterministic across runs")
  }

  test("hardNegativesIvf: subset of the exact band; exhaustive probing == exact twin") {
    val em = Tables.embeddings(spark, SF)
    val ids = Seq(0L, 1L, 2L)
    val exact = Similarity.hardNegatives(em, ids, 10, lo = 0.20, hi = 0.35,
        "embedding", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // exhaustive probing partitions the corpus, so the routed form must
    // reproduce the exact twin row-for-row
    val full = Similarity.hardNegativesIvf(em, ids, 10, lo = 0.20, hi = 0.35,
        "embedding", "vec_id", nCells = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(full.toSet == exact.toSet,
      s"exhaustive-probe IVF hard negatives != exact twin")
    // partial probing: every hit is a genuine band member (precision exact)
    val routed = Similarity.hardNegativesIvf(em, ids, 10, lo = 0.20, hi = 0.35,
        "embedding", "vec_id", nCells = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(routed.nonEmpty)
    routed.foreach { case (q, v, c) =>
      assert(c >= 0.20 && c < 0.35 && q != v, s"($q,$v) cosine $c out of band") }
  }

  test("hardNegatives: band respected, near-dups excluded, ranks contiguous") {
    val em = Tables.embeddings(spark, SF)
    val ids = Seq(0L, 1L, 2L)
    val hn = Similarity.hardNegatives(em, ids, 10, lo = 0.20, hi = 0.35,
        "embedding", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(hn.nonEmpty, "band [0.20, 0.35) should be populated on this corpus")
    hn.foreach { case (q, _, v, c) =>
      assert(c >= 0.20 && c < 0.35, s"($q,$v) cosine $c outside the band")
      assert(q != v) }
    // ranks are 1..n per anchor with no holes, ordered by cosine desc
    hn.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to rows.length).toSeq,
        s"anchor $q ranks not contiguous")
      assert(sorted.map(-_._4).toSeq == sorted.map(-_._4).toSeq.sorted,
        s"anchor $q not cosine-ordered") }
    // disjoint from the near-duplicate set ABOVE the ceiling: a mined
    // negative that is actually a dup would poison contrastive training
    val top = Similarity.bruteForceTopK(em, ids, 50, "embedding", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .filter(_._3 >= 0.35).map(t => (t._1, t._2)).toSet
    assert(hn.forall { case (q, _, v, _) => !top.contains((q, v)) },
      "a near-duplicate leaked into the hard-negative set")
  }
}



