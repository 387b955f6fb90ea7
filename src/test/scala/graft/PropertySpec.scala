package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextFunctions
import graft.mr.MapReduce
import graft.operators.Dedup

/** Property-style tests (SURVEY.md §5-3): scalacheck generators drive a
  * batch of inputs through the Column-expression and typed tokenizers and
  * compare them against the regex reference definition row by row. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val wordGen = Gen.oneOf(
    "the", "The", "spark", "Hello_again", "a", "héllo", "词", "x1")
  private val sepGen = Gen.oneOf(" ", "  ", "\t", ", ", "! ", " . ", "; ")
  private val lineGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    ws <- Gen.listOfN(n, wordGen)
    seps <- Gen.listOfN(math.max(n, 1), sepGen)
  } yield ws.zipAll(seps.take(ws.length), "", " ").map { case (w, s) => w + s }.mkString

  private def samples(n: Int): Seq[String] =
    (0 until n).flatMap(i => lineGen.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** The tokenizer's definition, the reference's `wc::map` as a regex
    * chain: the oracle both tokenizer paths are checked against. It lives
    * only here, so the checks never compare the kernel with itself. */
  private def referenceTokens(s: String): Seq[String] =
    s.replaceAll("(?U)[^\\w\\s]+", "").split("\\s+").filter(_.nonEmpty).toSeq

  /** Both tokenizer paths (the Column expression and the typed map) equal
    * [[referenceTokens]] on every line. */
  private def assertTokenizersMatchReference(data: Seq[String]): Unit = {
    val got = data.toDF("text")
      .select(TextFunctions.tokens(col("text")).as("t"))
      .as[Seq[String]].collect()
    assert(got.length == data.length)
    data.zip(got).zipWithIndex.foreach { case ((s, g), i) =>
      val want = referenceTokens(s)
      def show(x: String) = x.codePoints().toArray.map(c => f"U+$c%04X").mkString(" ")
      assert(g == want, s"Column path, line $i: ${show(s)}")
      val typed = MapReduce.wordCountMap(s)
      assert(typed.map(_._1) == want && typed.forall(_._2 == 1L), s"typed path, line $i: ${show(s)}")
    }
  }

  test("property: Column tokenizer == Scala reference tokenizer on 300 random lines") {
    val data = samples(300)
    val got = data.toDF("text")
      .select(TextFunctions.tokens(col("text")).as("t"))
      .as[Seq[String]].collect()
    val want = data.map(referenceTokens)
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"line $i: ${data(i)}")
    }
    assertTokenizersMatchReference(data)
  }

  test("property: both tokenizer paths == the regex definition on every BMP code point") {
    val cps = (0 until 0x10000).map(cp => new String(Character.toChars(cp)))
    assertTokenizersMatchReference(cps ++ cps.map(c => s"a${c}b"))
  }

  test("property: both tokenizer paths == the regex definition on mixed-script lines") {
    // non-ASCII spaces (kept inside tokens), U+001C-U+001F (deleted),
    // combining marks, ZWNJ/ZWJ, non-Latin digits, supplementary letters
    // and emoji, and lone surrogates
    val odd = Seq("\u00A0", "\u2003", "\u3000", "\u0085", "\u001C", "\u001D", "\u001E",
      "\u001F", "\u0301", "e\u0301", "\u20DD", "\u200C", "\u200D", "\u0663", "\u0967",
      "\uFF11", "\uD835\uDC00", "\uD801\uDC37", "\uD83D\uDE00", "\uD83D\uDC4D\uD83C\uDFFD",
      "\uD800", "\uDC00", "\uFEFF", "\u2028", "\u00AD", "\u203F", "_", "-", ".", "\u00BF")
    val pieceGen = Gen.frequency(
      3 -> Gen.oneOf(odd), 2 -> wordGen, 2 -> sepGen, 1 -> Gen.oneOf("\t", "\n", "\r", "\u000B", "\f"))
    val mixedGen = Gen.choose(0, 16).flatMap(n => Gen.listOfN(n, pieceGen)).map(_.mkString)
    val data = (0 until 500).flatMap(i => mixedGen.apply(Gen.Parameters.default, Seed(i.toLong)))
    assert(data.exists(_.contains("\u00A0")) && data.exists(_.contains("\uD800")))
    assertTokenizersMatchReference(data)
  }

  test("property: the tokenizer kernel drops malformed UTF-8 bytes as their U+FFFD would be") {
    // strings Spark holds as raw bytes (a binary cast) need not be valid
    // UTF-8: the definition runs on their `toString` decoding
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(7)
    val alphabet = "a b.\u00e9\u00A0\u20ac\uD83D\uDE00".getBytes("UTF-8") ++
      Array(0x80, 0xBF, 0xC0, 0xC1, 0xE0, 0xED, 0xF4, 0xF5, 0xFF).map(_.toByte)
    val lines = Seq.fill(2000)(Array.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.length))))
    lines.foreach { bytes =>
      val u = UTF8String.fromBytes(bytes)
      val got = graft.plans.TokensAlgo.compute(u).toObjectArray(
        org.apache.spark.sql.types.StringType).map(_.toString).toSeq
      assert(got == referenceTokens(u.toString), s"bytes ${bytes.map(b => f"${b & 0xFF}%02x").mkString(" ")}")
    }
    val viaCast = lines.toDF("b").select(TextFunctions.tokens(col("b").cast("string")).as("t"))
      .as[Seq[String]].collect().toSeq
    assert(viaCast == lines.map(b => referenceTokens(UTF8String.fromBytes(b).toString)))
  }

  test("property: the strip count == the code points the regex deletes, on random Unicode strings") {
    // any code point, lone surrogates included, with ASCII and the
    // mixed-script pieces weighted up so both classes occur often
    val cpGen = Gen.frequency(
      3 -> Gen.choose(0, 0x10FFFF), 2 -> Gen.choose(0, 0x7F), 1 -> Gen.choose(0x80, 0x3000))
    val strGen = Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, cpGen))
      .map(cps => cps.map(cp => new String(Character.toChars(cp))).mkString)
    val data = (0 until 1000).flatMap(i => strGen.apply(Gen.Parameters.default, Seed(i.toLong)))
    val want = data.map { s =>
      val kept = s.replaceAll("(?U)[^\\w\\s]+", "")
      s.codePointCount(0, s.length) - kept.codePointCount(0, kept.length)
    }
    assert(want.exists(_ > 0) && want.contains(0))
    val got = data.toDF("text").select(
      TextFunctions.strippedChars(col("text")),
      length(col("text")) - length(regexp_replace(col("text"), "(?U)[^\\w\\s]+", "")))
      .as[(Int, Int)].collect().toSeq
    data.indices.foreach { i =>
      def show(x: String) = x.codePoints().toArray.map(c => f"U+$c%04X").mkString(" ")
      assert(got(i) == (want(i), want(i)), s"line $i: ${show(data(i))}")
    }
  }

  test("property: sum of wordcount == total token count on random corpus") {
    val data = samples(200)
    val df = data.toDF("text")
    val totalTokens = df.select(size(TextFunctions.tokens(col("text"))).as("n"))
      .agg(sum("n")).as[Long].head()
    val sumCounts = df
      .select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .groupBy("w").count().agg(sum("count")).as[Long].head()
    assert(totalTokens == sumCounts)
  }

  test("property: tokenization invariant under punctuation-only insertion") {
    val data = samples(150)
    val punct = data.map(s => s.replace(" ", " ... ").replace("e", "e,"))
    val a = data.toDF("text").select(TextFunctions.tokens(col("text")).as("t"))
      .as[Seq[String]].collect()
    val b = punct.toDF("text").select(TextFunctions.tokens(col("text")).as("t"))
      .as[Seq[String]].collect()
    // inserting pure punctuation between/inside words never creates or
    // destroys word characters in the reference semantics (strip then split)
    a.zip(b).foreach { case (x, y) => assert(x.mkString == y.mkString) }
  }

  test("property: exact dedup is idempotent") {
    val data = samples(100) ++ samples(100) // guaranteed duplicates
    val df = data.toDF("text")
    val once = df.dropDuplicates("text")
    val twice = once.dropDuplicates("text")
    assert(once.count() == twice.count())
    assert(once.exceptAll(twice).count() == 0)
  }

  test("property: minhash signature equal for equal shingle sets, in-range") {
    val data = samples(120).filter(_.trim.nonEmpty)
    val sig = data.toDF("text")
      .select(col("text"), TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("text"),
        TextFunctions.minhashSignature(
          array_distinct(TextFunctions.wordShinglesFromTokens(col("toks"), 3)), 8).as("s"))
      .as[(String, Seq[Long])].collect()
    sig.groupBy(_._1).values.foreach { group =>
      assert(group.map(_._2).distinct.length == 1) // determinism per text
    }
    sig.foreach { case (_, s) =>
      assert(s.forall(h => h >= 0 && h < TextFunctions.MinhashP))
    }
  }

  test("property: connectedComponents == union-find on random graphs") {
    for (seed <- 0 until 5) {
      val rnd = new scala.util.Random(seed)
      val n = 4 + rnd.nextInt(28)
      val edges = Seq.fill(1 + rnd.nextInt(40))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int =
          if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a.toInt), find(b.toInt))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val want = nodes.groupBy(id => find(id.toInt)).values
          .flatMap(ms => { val m = ms.min; ms.map(_ -> m) }).toMap
        val labels = Dedup.connectedComponents(edges.toDF("id1", "id2"))
        val got = labels.as[(Long, Long)].collect().toMap
        assert(got == want, s"seed=$seed n=$n edges=$edges")
      }
    }
  }

  test("connectedComponents handles a long-diameter chain without plan blowup") {
    // A 40-node path graph — the regression case for per-round lineage
    // growth: before localCheckpoint, the logical plan grew geometrically
    // every round (round k references round k−1 more than once) and OOM'd
    // an 8 GiB driver heap inside AQE's plan-text rendering within tens of
    // rounds.
    val n = 40
    val chain = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
    val labels = Dedup.connectedComponents(chain.toDF("id1", "id2"))
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got == (0 until n).map(_.toLong -> 0L).toMap)
  }

  test("connectedComponents labels a 200-node path in O(log d) rounds, no cap") {
    // Diameter 199: pure min-label propagation needs ~100+ rounds (the
    // old implementation's 50-round cap made this exact graph ABORT by
    // design). Hooking + pointer doubling converges in ~⌈log₂ 199⌉ + O(1)
    // rounds, so this must pass quickly in the default test heap; ids are
    // offset so the component min is non-zero (catches a zero-default
    // label bug a 0-rooted chain would mask).
    val n = 200
    val base = 1000L
    val chain = (0 until n - 1).map(i => (base + i, base + i + 1))
    val labels = Dedup.connectedComponents(chain.toDF("id1", "id2"))
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got == (0 until n).map(i => (base + i) -> base).toMap)
  }

  test("property: pagerank conserves rank mass on random digraphs with dangling nodes") {
    // Σ ranks = 1 ± ε at every iteration count — the invariant a broken
    // dangling-mass redistribution violates immediately (mass leaks out
    // through sink nodes), catching regressions faster than the oracle's
    // fixed-graph hash can. Dangling nodes are forced by stripping one
    // node's out-edges while keeping an edge into it.
    for (seed <- 0 until 3) {
      val rnd = new scala.util.Random(100 + seed)
      val n = 5 + rnd.nextInt(12)
      val raw = Seq.fill(8 + rnd.nextInt(25))(
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}", 1L + rnd.nextInt(5)))
        .filter(e => e._1 != e._2)
      if (raw.nonEmpty) {
        val sink = raw.head._2 // receives an edge, loses its out-edges
        val edges = raw.filter(_._1 != sink)
        if (edges.nonEmpty) {
          for (iters <- Seq(1, 4, 10)) {
            val mass = graft.operators.Graph
              .pagerankOf(edges.toDF("src", "dst", "w"), 0.85, iters)
              .agg(sum($"r")).head().getDouble(0)
            assert(math.abs(mass - 1.0) < 1e-9,
              s"seed=$seed iters=$iters mass=$mass edges=$edges")
          }
        }
      }
    }
  }

  test("property: band-blocked ngram jaccard == naive all-pairs on random corpora") {
    // Direct guard for the length-band sub-blocking losslessness claim:
    // doc lengths are drawn to straddle geometric band boundaries (sz 5^k
    // edges), and the asymmetric {band, band+1} join must produce exactly
    // the pairs a naive quadratic all-pairs scan admits at J >= 0.2 —
    // no pair lost across a band edge, none double-generated.
    def grams(s: String): Set[Long] =
      (0 to s.length - 5).map { i =>
        var h = 0L; var j = 0
        while (j < 5) { h = h * 31 + s.charAt(i + j).toLong; j += 1 }; h
      }.toSet
    for (seed <- 0 until 3) {
      val rnd = new scala.util.Random(300 + seed)
      val alphabet = "abcd" // tiny alphabet => real gram collisions
      // lengths clustered near 5^2=25 and 5^3=125 gram-count band edges
      val docs = (0 until 24).map { i =>
        val len = Seq(9, 20, 28, 31, 120, 135, 300)(rnd.nextInt(7)) + rnd.nextInt(8)
        (i.toLong, String.valueOf(Array.fill(len)(alphabet(rnd.nextInt(4)))),
          "xx", if (i % 2 == 0) "web" else "book")
      }
      val tmp = graft.sources.TempDirs.create("graft_ngram_prop_")
      docs.toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length($"text").cast("long"))
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = graft.operators.Dedup.dedupNgramJaccard(spark, tmp)
        .select($"id1", $"id2").as[(Long, Long)].collect().toSeq
      val want = (for {
        a <- docs; b <- docs
        if a._1 < b._1 && a._4 == b._4 && a._2.length >= 5 && b._2.length >= 5
        ga = grams(a._2); gb = grams(b._2)
        inter = (ga & gb).size
        if inter * 6 >= ga.size + gb.size // J >= 0.2
      } yield (a._1, b._1)).sorted
      assert(got.size == got.toSet.size, s"seed=$seed duplicated pairs")
      assert(got.sorted == want, s"seed=$seed got=${got.sorted} want=$want")
    }
  }

  test("property: CDC diff/apply round-trips random snapshots with NULL values") {
    // applyDiff(base, diffSnapshots(base, target)) must equal target even
    // when values are legitimately NULL — the case the presence-marker
    // fix exists for (value-nullness-based detection misclassifies a
    // present-but-NULL value as insert/delete and breaks the round trip).
    import graft.operators.DataOps
    for (seed <- 0 until 4) {
      val rnd = new scala.util.Random(400 + seed)
      def snap(): Map[Long, Option[String]] =
        (0L until 30L).filter(_ => rnd.nextDouble() < 0.8)
          .map(k => k -> (if (rnd.nextDouble() < 0.25) None
                          else Some(s"v${rnd.nextInt(5)}"))).toMap
      val base = snap()
      val target = snap()
      val baseDf = base.toSeq.toDF("k", "v")
      val targetDf = target.toSeq.toDF("k", "v")
      val delta = DataOps.diffSnapshots(baseDf, targetDf, "k", "v")
      val got = DataOps.applyDiff(baseDf, delta, "k", "v")
        .as[(Long, Option[String])].collect().toMap
      assert(got == target, s"seed=$seed base=$base target=$target got=$got")
      // and the diff itself never reports a spurious change
      val changes = delta.select($"k", $"change").as[(Long, String)].collect()
      changes.foreach { case (k, ch) =>
        assert(base.get(k).flatten != target.get(k).flatten ||
          base.contains(k) != target.contains(k), s"seed=$seed spurious $ch on $k")
      }
    }
  }

  test("property: two-level token_pack == naive single prefix sum") {
    // doc_ids straddle the 4096 bucket boundary and shards are skewed;
    // the bucketed two-level positions must equal a naive per-shard
    // cumulative sum in doc_id order.
    val rnd = new scala.util.Random(11)
    val ids = (Seq(0L, 1L, 4094L, 4095L, 4096L, 4097L, 8191L, 8192L) ++
      Seq.fill(40)(rnd.nextInt(12000).toLong)).distinct
    val docs = ids.map { id =>
      val k = 1 + rnd.nextInt(7)
      (id, Seq.fill(k)("w").mkString(" "), if (id % 3 == 0) "en" else "de",
        if (id % 2 == 0) "web" else "book")
    }
    val tmp = graft.sources.TempDirs.create("graft_pack_prop_")
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.operators.TextAnalysis.tokenPack(spark, tmp)
      .select($"doc_id", $"start_chunk", $"start_offset")
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val want = docs.groupBy(d => (d._3, d._4)).values.flatMap { shard =>
      var cum = 0L
      shard.sortBy(_._1).map { d =>
        val pos = (d._1, cum / 2048, cum % 2048)
        cum += d._2.split(" ").length.toLong
        pos
      }
    }.map(t => t._1 -> (t._2, t._3)).toMap
    assert(got == want)
  }

  test("property: histogram quantiles == naive sorted interpolation on random groups") {
    val rng = new scala.util.Random(7)
    // /4 keeps values dyadic so the interpolation arithmetic is exact in
    // both the Spark expression and the naive reference
    val rows = (0 until 2000).map(_ =>
      (s"g${rng.nextInt(5)}", (rng.nextInt(200) + 1).toDouble / 4))
    val got = graft.operators.Analytics
      .quantilesOf(rows.toDF("g", "x"), "g", "x",
        Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq
    def naive(vs: Seq[Double], p: Double): Double = {
      val s = vs.sorted
      val pos = p * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      val v = s(lo) + (s(hi) - s(lo)) * (pos - math.floor(pos))
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, grp) =>
      val vs = grp.map(_._2)
      (g, naive(vs, 0.5), naive(vs, 0.9), naive(vs, 0.99))
    }
    assert(got == want)
  }

  test("property: histogram quality gate == naive top-half selection with ties") {
    val rng = new scala.util.Random(11)
    // an 11-value quality grid forces heavy ties, including at the cut —
    // the case the admitted-tie-count + doc_id tie-break must get exact
    val rows = (0L until 500L).map(i =>
      (i, s"l${rng.nextInt(4)}", rng.nextInt(11) / 10.0))
    val got = graft.operators.TextAnalysis
      .gateTopHalf(rows.toDF("doc_id", "lang", "quality"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val want = rows.groupBy(_._2).values.flatMap { grp =>
      grp.sortBy { case (id, _, q) => (-q, id) }.take(grp.size / 2)
    }.toSeq.sortBy(_._1)
    assert(got == want)
  }

  test("sql surface: registered vec_dot and lsh_bucket work from spark.sql") {
    GraftFunctions.register(spark)
    Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
      .createOrReplaceTempView("vecs")
    val d = spark.sql("SELECT vec_dot(a, b) AS d FROM vecs").as[Double].head()
    assert(d == 32.0)
    val bk = spark.sql("SELECT lsh_bucket(a, 4, 3) AS bk FROM vecs")
      .selectExpr("bk").head().getInt(0)
    assert(bk >= 0 && bk < 16)
  }

  test("property: BPE merge fold == Scala reference fold on 400 adversarial words") {
    // greedy left-to-right reference: merge non-overlapping (a, b)
    // adjacencies, where a merged symbol can itself match a later rule
    def ref(syms: Seq[String], a: String, b: String): Seq[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
        else acc :+ x
      }
    val charGen = Gen.oneOf("a", "b", "c")
    val wGen = for {
      n <- Gen.choose(1, 10)
      cs <- Gen.listOfN(n, charGen)
    } yield cs.mkString
    val words = (0 until 400).flatMap(i => wGen.apply(Gen.Parameters.default, Seed(1000L + i)))
    // rule chain exercises overlap runs (a,a), a MERGED left symbol
    // (aa,a), and an ordinary pair (b,c)
    val rules = Seq(("a", "a"), ("aa", "a"), ("b", "c"))
    var df = words.toDF("w")
      .select(col("w"), split(col("w"), "").as("syms"))
      .select(col("w"), filter(col("syms"), x => length(x) > 0).as("syms"))
    var expect: Seq[Seq[String]] = words.map(_.map(_.toString).toSeq)
    for ((a, b) <- rules) {
      df = df.select(col("w"),
        graft.operators.TextAnalysis.applyMerge(col("syms"), a, b).as("syms"))
      expect = expect.map(s => ref(s, a, b).toSeq)
      val got = df.select("syms").as[Seq[String]].collect()
      got.zip(expect).zipWithIndex.foreach { case ((g, e), i) =>
        assert(g == e, s"rule ($a,$b) word '${words(i)}': $g != $e")
      }
    }
  }
}
