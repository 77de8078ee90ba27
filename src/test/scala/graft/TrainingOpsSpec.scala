package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.ann.Ann
import graft.textops.TextOps
import graft.multimodal.Multimodal

class TextOpsSpec extends SparkSpec {
  test("vocabGrowth: cumulative vocab/token curve matches a local scan") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "a b c"), (1L, "a b"), (2L, "d"),       // ckpt 2 sees docs 0..1
      (3L, "a e f"), (4L, "g"), (5L, "a"))
    val out = TextOps.vocabGrowth(corpus.toDF("doc_id", "text"),
        "doc_id", "text", 2)
      .orderBy("docs_seen").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // local oracle: scan docs in id order, track seen set + totals
    val seen = scala.collection.mutable.Set[String]()
    var tot = 0L
    val expect = corpus.grouped(2).zipWithIndex.map { case (chunk, i) =>
      chunk.foreach { case (_, t) =>
        val ts = t.split(" "); tot += ts.length; seen ++= ts }
      ((i + 1) * 2L, seen.size.toLong, tot)
    }.toSeq
    assert(out.toSeq == expect)
    // curve is monotone and vocab <= tokens everywhere
    assert(out.sliding(2).forall { case Array(a, b) => a._2 <= b._2 && a._3 <= b._3 })
    assert(out.forall { case (_, v, t) => v <= t })
  }

  test("cleanCorpus: filters precede dedup; groups partition survivors") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet")
    val cleaned = TextOps.cleanCorpus(docs, "doc_id", "text")
    val total = cleaned.agg(sum($"group_size")).head().getLong(0)
    // survivors counted independently
    val toks = split($"text", " ")
    val n = size(toks).cast("long")
    val survivors = docs.where(
      n.between(5, 5000) &&
        round(size(array_distinct(toks)).cast("double") / n, 4) >= 0.3 &&
        round(size(org.apache.spark.sql.functions.filter(toks,
          t => t.isInCollection(TextOps.EnStopwords))).cast("double") / n, 4) >= 0.05)
      .count()
    assert(total == survivors && survivors > 0)
    // lang/quality gates actually filtered something
    assert(survivors < docs.count())
  }

  test("redactPii: emails and phones replaced, counted on the original text") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail a@b.co or bob.smith+x@ex-1.co.uk now"),
      (2L, "call 555-867-5309 or 555 123 4567"),
      (3L, "email a@b.co then call 555-867-5309"),
      (4L, "clean text with no pii at all")).toDF("doc_id", "text")
    val got = TextOps.redactPii(df, "doc_id", "text")
      .select($"id".as[Long], $"n_emails".as[Long], $"n_phones".as[Long],
        $"redacted".as[String]).collect().sortBy(_._1)
    assert(got(0) == ((1L, 2L, 0L, "mail <EMAIL> or <EMAIL> now")))
    assert(got(1) == ((2L, 0L, 2L, "call <PHONE> or <PHONE>")))
    assert(got(2) == ((3L, 1L, 1L, "email <EMAIL> then call <PHONE>")))
    assert(got(3) == ((4L, 0L, 0L, "clean text with no pii at all")))
  }

  test("lineDedup: corpus-frequency line filter, order-preserving reassembly") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha\nboiler\ngamma"),
      (2L, "delta\nboiler"),
      (3L, "boiler \nepsilon"), // trimmed key groups with bare 'boiler'
      (4L, "")).toDF("doc_id", "text")
    val got = TextOps.lineDedup(df, "doc_id", "text")
      .select($"id".as[Long], $"n_lines".as[Long], $"n_kept".as[Long],
        $"clean_text".as[String]).collect().sortBy(_._1)
    assert(got(0) == ((1L, 3L, 2L, "alpha\ngamma")))
    assert(got(1) == ((2L, 2L, 1L, "delta")))
    assert(got(2) == ((3L, 2L, 1L, "epsilon"))) // original line dropped via trim key
    assert(got(3) == ((4L, 1L, 1L, ""))) // lone empty line is unique -> kept
    // raising maxFreq past the boilerplate's frequency restores doc 1 verbatim
    val loose = TextOps.lineDedup(df, "doc_id", "text", maxFreq = 3)
      .where($"id" === 1L).select($"clean_text".as[String]).head()
    assert(loose == "alpha\nboiler\ngamma")
  }

  test("collocations: hand-computed lift table, ranking and tiebreak") {
    import spark.implicits._
    val df = Seq("a b a b", "a b c", "c c c c").toDF("text")
    // c(a)=3 c(b)=3 c(c)=5 N=11; c(ab)=3 c(ba)=1 c(bc)=1 c(cc)=3
    val got = TextOps.collocations(df, "text", minCount = 1, k = 10)
      .as[(String, String, Long, Long, Long, Double)].collect().toList
    def r6(x: Double) =
      BigDecimal(x.toString).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == List(
      ("a", "b", 3L, 3L, 3L, r6(3.0 * 11 / 9)),
      ("c", "c", 3L, 5L, 5L, r6(3.0 * 11 / 25)),
      ("b", "a", 1L, 3L, 3L, r6(1.0 * 11 / 9)),
      ("b", "c", 1L, 3L, 5L, r6(1.0 * 11 / 15))))
    // minCount prunes the singletons
    val pruned = TextOps.collocations(df, "text", minCount = 2, k = 10)
      .select($"w1".as[String], $"w2".as[String]).collect().toSet
    assert(pruned == Set(("a", "b"), ("c", "c")))
  }

  test("boilerplateStrip: per-group doc-frequency rule, order preserved") {
    import spark.implicits._
    // group A (4 docs): 'head' in all 4 (>= ceil(0.5*4)=2 -> boiler),
    // 'promo' in 2 of 4 (== 2 -> boiler), 'rare' in 1 (kept);
    // group B (2 docs): 'head' in only 1 of 2 -> NOT boiler in B even
    // though it is in A (per-group isolation); minDocs=2 floor means a
    // 1-doc group can never lose lines
    val df = Seq(
      (1L, "A", "head\nbody one\npromo"),
      (2L, "A", "head\nbody two\npromo"),
      (3L, "A", "head\nbody three\nrare"),
      (4L, "A", "head\nbody four"),
      (5L, "B", "head\nother body"),
      (6L, "B", "solo line"),
      (7L, "C", "head\nlone doc")).toDF("doc_id", "src", "text")
    val got = TextOps.boilerplateStrip(df, "doc_id", "text", $"src", 0.5)
      .select($"id".as[Long], $"n_lines".as[Long], $"n_kept".as[Long],
        $"clean_text".as[String]).collect().sortBy(_._1)
    assert(got(0) == ((1L, 3L, 1L, "body one")))
    assert(got(1) == ((2L, 3L, 1L, "body two")))
    assert(got(2) == ((3L, 3L, 2L, "body three\nrare")))
    assert(got(3) == ((4L, 2L, 1L, "body four")))
    assert(got(4) == ((5L, 2L, 2L, "head\nother body"))) // B keeps 'head'
    assert(got(5) == ((6L, 1L, 1L, "solo line")))
    assert(got(6) == ((7L, 2L, 2L, "head\nlone doc"))) // 1-doc group safe
  }

  test("canonicalUrl: case/port/www/tracking/order/slash/fragment invariances") {
    import spark.implicits._
    import graft.textops.UrlOps
    val urls = Seq(
      "HTTPS://WWW.Example.COM:443/docs/10/?utm_source=feed&b=2&a=1#top",
      "https://example.com/docs/10//?a=1&b=2",
      " https://example.com/docs/10?b=2&a=1 ",
      "http://example.com:80/",
      "http://example.com",
      "https://example.com:8080/x?fbclid=z&q=1",
      "URN:isbn:42")
    val got = urls.toDF("u").select(UrlOps.canonicalUrl($"u").as[String]).collect()
    assert(got(0) == "https://example.com/docs/10?a=1&b=2")
    assert(got(1) == got(0)) // duplicate slashes + param order
    assert(got(2) == got(0)) // whitespace + param order
    assert(got(3) == "http://example.com/") // default port dropped
    assert(got(4) == got(3)) // empty path == root
    assert(got(5) == "https://example.com:8080/x?q=1") // non-default port kept
    assert(got(6) == "urn:isbn:42") // no scheme://: opaque passthrough
    val doms = Seq("https://a.b.example.co/x", "urn:isbn:42").toDF("u")
      .select(UrlOps.domainOf($"u").as[String]).collect()
    assert(doms(0) == "example.co" && doms(1) == "")
  }

  test("tfidfTopTerms: rare terms outrank common ones; exact small oracle") {
    import spark.implicits._
    val df = Seq(
      (1L, "apple banana apple zebra"),
      (2L, "apple banana banana"),
      (3L, "apple cherry")).toDF("doc_id", "text")
    // df: apple 3, banana 2, zebra 1, cherry 1; n_docs = 3
    val got = TextOps.tfidfTopTerms(df, "doc_id", "text", k = 2)
      .select($"id".as[Long], $"term".as[String], $"rank".as[Long])
      .collect().groupBy(_._1)
      .map { case (k, v) => k -> v.sortBy(_._3).map(_._2).toList }
    assert(got(1L) == List("zebra", "apple")) // zebra 1*3=3 > apple 2*1=2
    assert(got(2L) == List("banana", "apple")) // banana 2*1.5=3 > apple 1
    assert(got(3L) == List("cherry", "apple")) // cherry 1*3=3 > apple 1
  }

  test("bm25TopK: == scalar rational-arithmetic oracle; rare term dominates") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark join join join pad pad pad pad"),
      (2L, "spark dup"),
      (3L, "join pad pad"),
      (4L, "pad pad pad pad pad pad"),
      (5L, "spark spark join dup dup"))
    val got = TextOps.bm25TopK(corpus.toDF("doc_id", "text"), "doc_id",
        "text", Seq("spark", "join", "dup"), k = 5)
      .as[(Long, Long)].collect().toSeq
    // scalar replication
    val S = 1000000L
    val toks = corpus.map { case (i, t) => i -> t.split(" ").toSeq }.toMap
    val n = corpus.size.toLong
    val tl = toks.values.map(_.size.toLong).sum
    def df(term: String) = toks.values.count(_.contains(term)).toLong
    val expect = corpus.map { case (i, _) =>
      val len = toks(i).size.toLong
      val score = Seq("spark", "join", "dup").map { q =>
        val tf = toks(i).count(_ == q).toLong
        if (tf == 0) BigInt(0)
        else {
          val idf = S * (2 * n - 2 * df(q) + 1) / (2 * df(q) + 1)
          BigInt(idf) * (44 * tf * tl) /
            (20 * tl * tf + 6 * tl + 18 * len * n)
        }
      }.sum
      (i, score.toLong)
    }.filter(_._2 > 0).sortBy(t => (-t._2, t._1))
    assert(got == expect)
    // doc 5 carries the rare 'dup' twice plus both common terms: top hit
    assert(got.head._1 == 5L)
  }

  test("repetitionScores: matches local computation; repeated text scores high") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet")
    val got = TextOps.repetitionScores(docs, "doc_id", "text")
      .select($"id".as[Long], $"n_tokens".as[Long],
        $"dup_2gram_frac".as[Double], $"top_token_frac".as[Double])
      .collect().map(t => t._1 -> (t._2, t._3, t._4)).toMap
    val txts = docs.select($"doc_id".as[Long], $"text".as[String]).collect()
    // Spark round() is decimal HALF_UP, not double half-even
    def r4(x: Double) =
      BigDecimal(x.toString).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    txts.foreach { case (id2, t) =>
      val toks = t.split(" ")
      val g2 = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val dup = if (g2.isEmpty) 0.0
        else r4(1.0 - g2.distinct.size.toDouble / g2.size)
      val top = if (toks.isEmpty) 0.0
        else r4(toks.groupBy(identity).values.map(_.size).max.toDouble / toks.length)
      assert(got(id2) == ((toks.length.toLong, dup, top)), s"doc $id2")
    }
    // a pathological doc scores near 1 on both
    val bad = Seq((1L, ("spam " * 50).trim)).toDF("doc_id", "text")
    val b = TextOps.repetitionScores(bad, "doc_id", "text").collect().head
    assert(b.getDouble(2) > 0.9 && b.getDouble(3) == 1.0)
  }

  test("contamination: matches a local brute-force n-gram intersection") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet")
    val bench = docs.where($"doc_id" % 97 === 0)
    val got = TextOps.contamination(docs, "doc_id", "text", bench, "text", n = 8)
      .select($"id".as[Long], $"n_hits".as[Long], $"contaminated".as[Boolean])
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    val txts = docs.select($"doc_id".as[Long], $"text".as[String]).collect()
    def grams(t: String): Set[String] = {
      val toks = t.split(" ")
      if (toks.length < 8) Set.empty
      else (0 to toks.length - 8).map(i => toks.slice(i, i + 8).mkString(" ")).toSet
    }
    val bg = txts.filter(_._1 % 97 == 0).flatMap(t => grams(t._2)).toSet
    assert(got.size == txts.length)
    txts.foreach { case (id2, t) =>
      val hits = (grams(t) intersect bg).size.toLong
      assert(got(id2) == (hits, hits > 0), s"doc $id2: ${got(id2)} vs $hits")
    }
    // benchmark docs self-hit; most of the corpus is clean
    assert(got.values.count(_._2) > 0)
    assert(got.values.count(!_._2) > txts.length / 2)
  }

  test("bpeTokenCount: GPT-2-style pre-token counts on contraction/mixed cases") {
    import spark.implicits._
    // expected values computed by hand against the documented pattern
    // (contraction suffixes split off; digit/letter runs split; punct runs
    // one token; whitespace runs one token each)
    val cases = Seq(
      ("the cat's hat isn't here", 7L),  // the| cat|'s| hat| isn|'t| here
      ("hello  world", 3L),              // hello|(1 space)|( world)
      ("a1b2 3.14, x!", 10L),
      ("don't stop", 3L),
      ("it's 100% a2z", 7L))
    val got = cases.toDF("text", "want")
      .select(TextOps.bpeTokenCount($"text").as[Long], $"want".as[Long])
      .collect()
    got.foreach { case (g, w) => assert(g == w, s"got $g want $w") }
  }

  test("unigramLogProb: probabilities valid, repeated-token doc scores higher") {
    import spark.implicits._
    val docs = Seq((1L, "aa aa aa aa"), (2L, "aa bb cc dd")).toDF("doc_id", "text")
    val got = TextOps.unigramLogProb(docs, "doc_id", "text")
      .select($"doc_id".as[Long], $"n_tokens".as[Long], $"mean_logprob".as[Double])
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L)._1 == 4 && got(2L)._1 == 4)
    // all logprobs of corpus probabilities are <= 0
    assert(got.values.forall(_._2 <= 0.0))
    // "aa" appears 5/8 times; doc 1 (all "aa") must outscore the mixed doc
    assert(got(1L)._2 > got(2L)._2)
    // exact value: doc1 = log10(5/8), doc2 = (log10(5/8) + 3*log10(1/8))/4
    assert(math.abs(got(1L)._2 - math.rint(math.log10(5.0 / 8) * 1e6) / 1e6) < 1e-9)
  }

  test("dsirWeights == local hashed-LM log-ratio; target docs score higher") {
    import spark.implicits._
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(md.digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15), 16)
    }
    val B = 64
    val docs = Seq(
      (1L, "en", "the cat sat on the mat"),
      (2L, "en", "the dog ate the food"),
      (3L, "de", "der hund frisst das futter"),
      (4L, "de", "die katze sitzt auf der matte"),
      (5L, "en", "der the cat hund")) // mixed
    val got = TextOps.dsirWeights(docs.toDF("doc_id", "lang", "text"),
        "doc_id", "text", col("lang") === "en", buckets = B)
      .select($"doc_id".as[Long], $"n_tokens".as[Long],
        $"dsir_weight".as[Double])
      .collect().map(r => r._1 -> (r._2, r._3)).toMap

    // local recompute with the identical hash + smoothing + rounding
    val toks = docs.flatMap { case (id, lang, t) =>
      t.split(" ").map(w => (id, lang == "en", h60(w) % B))
    }
    val nR = toks.size
    val nT = toks.count(_._2)
    val cR = toks.groupBy(_._3).view.mapValues(_.size).toMap
    val cT = toks.filter(_._2).groupBy(_._3).view.mapValues(_.size).toMap
    def lr(b: Long): Double =
      math.log10((cT.getOrElse(b, 0) + 1.0) / (nT + B)) -
        math.log10((cR(b) + 1.0) / (nR + B))
    val expect = toks.groupBy(_._1).view.mapValues { g =>
      (g.size.toLong, math.rint(g.map(t => lr(t._3)).sum / g.size * 1e6) / 1e6)
    }.toMap
    got.foreach { case (id, (n, w)) =>
      assert(n == expect(id)._1, s"doc $id")
      assert(math.abs(w - expect(id)._2) < 1e-9, s"doc $id: $w vs ${expect(id)._2}")
    }
    // pure-target docs outscore pure-raw docs; the mixed doc sits between
    assert(got(1L)._2 > got(3L)._2 && got(2L)._2 > got(4L)._2)
    assert(got(5L)._2 < math.max(got(1L)._2, got(2L)._2) &&
      got(5L)._2 > math.min(got(3L)._2, got(4L)._2))
  }

  test("bigramLogProb: exact add-one values; word salad scores lower") {
    import spark.implicits._
    // corpus: "aa bb" occurs twice, "bb aa" never; V = 2; doc 3 is a
    // single token (no bigrams -> no row)
    val docs = Seq((1L, "aa bb aa bb"), (2L, "bb aa"), (3L, "aa"))
      .toDF("doc_id", "text")
    val got = TextOps.bigramLogProb(docs, "doc_id", "text")
      .select($"doc_id".as[Long], $"n_bigrams".as[Long],
        $"mean_logprob2".as[Double])
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(!got.contains(3L), "one-token doc has no bigrams")
    assert(got(1L)._1 == 3 && got(2L)._1 == 1)
    // bigram counts: (aa,bb)=2, (bb,aa)=1, (bb,bb)? no. c1: aa·=2, bb·=1? wait:
    // doc1 bigrams: (aa,bb),(bb,aa),(aa,bb); doc2: (bb,aa)
    // cb(aa,bb)=2, cb(bb,aa)=2; c1(aa)=2, c1(bb)=2; V=2
    // p(bb|aa) = (2+1)/(2+2) = 0.75; p(aa|bb) = (2+1)/(2+2) = 0.75
    val p = math.log10(3.0 / 4)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(math.abs(got(1L)._2 - r6(p)) < 1e-9)
    assert(math.abs(got(2L)._2 - r6(p)) < 1e-9)
    // word salad: common tokens, unseen combinations score lower than
    // fluent text under the same model
    val corpus = Seq((1L, "the cat sat on the mat"), (2L, "the cat sat"),
      (3L, "mat the on sat")).toDF("doc_id", "text")
    val s = TextOps.bigramLogProb(corpus, "doc_id", "text")
      .select($"doc_id".as[Long], $"mean_logprob2".as[Double])
      .collect().toMap
    assert(s(3L) < s(2L), s"salad ${s(3L)} must score below fluent ${s(2L)}")
  }

  test("fetchSchedule: one worker per host, ordered spacing, md5 routing") {
    import spark.implicits._
    val urls = Seq(
      "https://a.example/2", "https://a.example/1", "https://a.example/3",
      "https://b.example/x", "https://b.example/y")
      .toDF("url")
    val got = graft.textops.UrlOps.fetchSchedule(urls, "url",
        workers = 4, delayMs = 500L)
      .select($"url".as[String], $"host".as[String], $"worker".as[Int],
        $"fetch_seq".as[Long], $"fetch_at_ms".as[Long])
      .collect()
    // one worker per host
    val byHost = got.groupBy(_._2)
    assert(byHost.forall { case (_, rs) => rs.map(_._3).toSet.size == 1 })
    // deterministic md5 routing
    got.foreach { r =>
      val want = (java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(r._2.getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString, 16) % 4).toInt
      assert(r._3 == want, s"${r._2}: got worker ${r._3} want $want")
    }
    // URL-ordered spacing within a host
    val a = got.filter(_._2 == "a.example").sortBy(_._4)
    assert(a.map(_._1).toSeq == Seq("https://a.example/1",
      "https://a.example/2", "https://a.example/3"))
    assert(a.map(_._5).toSeq == Seq(0L, 500L, 1000L))
  }

  test("negativeSample: self+positives excluded, hash top-k, batch-invariant") {
    import spark.implicits._
    val pool = (0L until 20L).map(i => (i, s"g${i % 4}")).toDF("id", "grp")
    val anchors = Seq(0L, 1L, 2L).toDF("anchor_id")
    val got = TextOps.negativeSample(pool, "id", col("grp"), anchors, k = 3)
      .select($"anchor_id".as[Long], $"cand_id".as[Long], $"rank".as[Long])
      .collect().toSet
    // expected: rank the admissible candidates by Spark's own xxhash64
    // (hash determinism is the engine's; exclusion + ordering are ours)
    val hs = (for (a <- 0L to 2L; c <- 0L until 20L) yield (a, c))
      .toDF("a", "c")
      .select($"a", $"c", xxhash64(lit(42L), $"a", $"c").as("h"))
      .as[(Long, Long, Long)].collect()
      .map { case (a, c, h) => (a, c) -> h }.toMap
    val want = (0L to 2L).flatMap { a =>
      (0L until 20L)
        .filter(c => c != a && c % 4 != a % 4)
        .sortBy(c => (hs((a, c)), c))
        .take(3).zipWithIndex
        .map { case (c, i) => (a, c, (i + 1).toLong) }
    }.toSet
    assert(got == want)
    assert(got.forall { case (a, c, _) => c != a && c % 4 != a % 4 })
    // batching anchors never changes any anchor's draw
    val b1 = TextOps.negativeSample(pool, "id", col("grp"),
      Seq(0L, 1L).toDF("anchor_id"), k = 3)
    val b2 = TextOps.negativeSample(pool, "id", col("grp"),
      Seq(2L).toDF("anchor_id"), k = 3)
    val batched = b1.unionAll(b2)
      .select($"anchor_id".as[Long], $"cand_id".as[Long], $"rank".as[Long])
      .collect().toSet
    assert(batched == want)
  }

  test("robotsFilter: longest prefix wins, ties disallow, unmatched allowed") {
    import spark.implicits._
    val rules = Seq(
      ("h.example", "/", true),
      ("h.example", "/private", false),
      ("h.example", "/private/pub", true),
      // equal-length allow+disallow pair: disallow must win
      ("h.example", "/tie", false),
      ("h.example", "/tie", true),
      ("other.example", "/", false))
      .toDF("host", "prefix", "allow")
    val urls = Seq(
      "https://h.example/open/x",        // "/" allows
      "https://h.example/private/y",     // "/private" blocks
      "https://h.example/private/pub/z", // "/private/pub" re-allows
      "https://h.example/tie/w",         // tie -> disallow
      "https://h.example",               // empty path -> "/" allows
      "https://unknown.example/a")       // no rules -> default allow
      .toDF("url")
    val got = graft.textops.UrlOps.robotsFilter(urls, "url", rules)
      .select($"url".as[String], $"allowed".as[Boolean],
        $"rule_prefix".as[String])
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("https://h.example/open/x") == ((true, "/")))
    assert(got("https://h.example/private/y") == ((false, "/private")))
    assert(got("https://h.example/private/pub/z") == ((true, "/private/pub")))
    assert(got("https://h.example/tie/w") == ((false, "/tie")))
    assert(got("https://h.example") == ((true, "/")))
    assert(got("https://unknown.example/a") == ((true, "")))
    assert(got.size == 6)
  }

  test("bpeTrain: == local reference BPE (Sennrich) incl. overlap counting") {
    import spark.implicits._
    // classic BPE example corpus + an overlap probe ("aaa": pair (a,a)
    // counts twice per word, merges leftmost-first to "aa a")
    val corpus = Seq(
      "low low low low low",
      "lower lower newest newest NO_TRAIN 42x",
      "newest newest newest newest",
      "widest widest widest aaa aaa")
    val got = graft.textops.Bpe.train(corpus.toDF("text"), "text", 8)
      .as[(Int, String, String, String, Long)].collect().toSeq
    // local reference: freq table -> iterate (count all adjacent
    // positions, max by (count, lexicographic pair), merge leftmost
    // non-overlapping)
    var states: Map[Vector[String], Long] = corpus.flatMap(_.split(" "))
      .filter(_.matches("^[a-z]+$"))
      .groupBy(identity).map { case (w, xs) =>
        (w.map(_.toString).toVector :+ "</w>") -> xs.size.toLong }
    val want = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    for (r <- 1 to 8) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      states.foreach { case (s, c) =>
        s.sliding(2).foreach(p => counts((p(0), p(1))) += c) }
      val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, x, y) }
      want += ((r, a, b, a + b, c))
      states = states.map { case (s, n) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < s.length) {
          if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += s(i); i += 1 }
        }
        out.result() -> n
      }
    }
    assert(got == want.toSeq)
    // encode side: segmentation of the top words == local final states
    val seg = graft.textops.Bpe
      .segmentTop(corpus.toDF("text"), "text", 8, 4)
      .as[(String, Long, String)].collect().toSeq
      .sortBy { case (w, c, _) => (-c, w) }
    val localSeg = states.toSeq
      .map { case (v, c) =>
        (v.mkString.stripSuffix("</w>"), c, v.mkString(" ")) }
      .sortBy { case (w, c, _) => (-c, w) }.take(4)
    assert(seg == localSeg)
  }

  test("revisitDiff: changes vs revisits vs versions per url") {
    import spark.implicits._
    val snaps = Seq(
      // u1: A A B B A -> 5 captures, changes at ts 3 (A->B) and 5 (B->A),
      // revisits at 2 and 4, 2 distinct versions, last change 5
      ("u1", 1L, "A"), ("u1", 2L, "A"), ("u1", 3L, "B"),
      ("u1", 4L, "B"), ("u1", 5L, "A"),
      // u2: single capture -> no changes, no revisits, last_change=first
      ("u2", 10L, "X"),
      // u3: X X -> pure revisit
      ("u3", 7L, "X"), ("u3", 9L, "X"))
      .toDF("url", "ts", "content")
    val got = graft.textops.UrlOps.revisitDiff(snaps, "url", "ts", "content")
      .select("url", "n_captures", "n_changes", "n_revisits",
        "n_versions", "first_ts", "last_change_ts")
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7)))
      .toMap
    assert(got("u1") == ((5L, 2L, 2L, 2L, 1L, 5L)))
    assert(got("u2") == ((1L, 0L, 0L, 1L, 10L, 10L)))
    assert(got("u3") == ((2L, 0L, 1L, 1L, 7L, 7L)))
    assert(got.size == 3)
  }

  test("gopherRules: flags match a local rule evaluation incl. edge cases") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over a lazy dog of the north and to all men"),
      (2L, "spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam"),
      (3L, "x y z"),
      (4L, ("the a of and to " + (1 to 20).map(i => s"w$i").mkString(" "))))
      .toDF("doc_id", "text")
    val got = TextOps.gopherRules(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    docs.collect().foreach { row =>
      val id = row.getLong(0); val t = row.getString(1)
      val toks = t.split(" ")
      val n = toks.length.toLong
      val nd = toks.distinct.length.toLong
      val ml = (t.length - (n - 1)).toDouble / n
      val nstop = toks.distinct
        .count(Set("the", "a", "of", "and", "to")).toLong
      val df = (n - nd).toDouble / n
      val r = got(id)
      assert(r.getAs[Long]("n_words") == n)
      assert(r.getAs[Long]("n_stopwords") == nstop)
      assert(r.getAs[Boolean]("ok_words") == (n >= 15 && n <= 40), s"id=$id")
      assert(r.getAs[Boolean]("ok_mean_len") == (ml >= 3.0 && ml <= 10.0))
      assert(r.getAs[Boolean]("ok_stopwords") == (nstop >= 2))
      assert(r.getAs[Boolean]("ok_dup") == (df <= 0.4))
      assert(r.getAs[Boolean]("pass") ==
        ((n >= 15 && n <= 40) && (ml >= 3.0 && ml <= 10.0) &&
          nstop >= 2 && df <= 0.4), s"pass id=$id")
    }
    // the fixture corpus exercises both outcomes
    assert(got(1L).getAs[Boolean]("pass"))
    assert(!got(2L).getAs[Boolean]("pass")) // all-dup, no stopwords
    assert(!got(3L).getAs[Boolean]("pass")) // too short
  }

  test("fingerprint64: FNV-1a vectors + determinism") {
    // FNV-1a 64 known vectors
    assert(TextOps.fingerprint64("") == 0xcbf29ce484222325L)
    assert(TextOps.fingerprint64("a") == 0xaf63dc4c8601ec8cL)
    assert(TextOps.fingerprint64("foobar") == 0x85944171f73967e8L)
    assert(TextOps.fingerprint64("x") == TextOps.fingerprint64("x"))
  }
}

class DedupSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame
  private lazy val documents = spark.read.parquet(s"$sfTiny/documents.parquet").cache()

  test("minhash LSH pairs: superset-free, high recall vs brute-force jaccard") {
    import spark.implicits._
    val threshold = 0.5
    val got = Dedup.minhashLshPairs(documents, "doc_id", "text", threshold)
      .select($"id0".as[Long], $"id1".as[Long], $"jaccard".as[Double])
      .collect().map(t => (t._1, t._2) -> t._3).toMap

    // brute-force oracle over all pairs (word-bigram shingles)
    val txts = documents.select($"doc_id".as[Long], $"text".as[String]).collect()
    def jac(a: String, b: String): Double = {
      val sa = Dedup.shingles2(a).toSet; val sb = Dedup.shingles2(b).toSet
      val i = (sa intersect sb).size.toDouble
      math.rint(i / (sa.size + sb.size - i) * 10000) / 10000
    }
    val truth = (for {
      (i, ti) <- txts.iterator
      (j, tj) <- txts.iterator
      if i < j
      s = jac(ti, tj)
      if s >= threshold
    } yield (i, j) -> s).toMap

    // precision: every emitted pair is a true >=0.5 pair with correct score
    got.foreach { case (k, s) =>
      assert(truth.contains(k), s"false positive $k")
      assert(math.abs(truth(k) - s) < 1e-9)
    }
    // recall of the LSH candidate generation
    val recall = if (truth.isEmpty) 1.0 else got.size.toDouble / truth.size
    info(s"lsh pairs=${got.size} truth=${truth.size} recall=$recall")
    assert(recall >= 0.9, s"LSH recall $recall")
  }

  test("prefixFilterPairs == brute-force thresholded set jaccard (exact)") {
    import spark.implicits._
    val t = 0.7
    val tnum = math.ceil(t * 10000).toLong
    val got = Dedup.prefixFilterPairs(documents.repartition(7), "doc_id",
        "text", t)
      .collect()
      .map(r => (r.getAs[Long]("id0"), r.getAs[Long]("id1")) ->
        (r.getAs[Long]("inter"), r.getAs[Long]("sz0"), r.getAs[Long]("sz1"),
          r.getAs[Double]("jaccard"))).toMap
    val txts = documents.select($"doc_id".as[Long], $"text".as[String])
      .collect()
    val sets = txts.map { case (id, tx) => id -> tx.split(" ").toSet }
    val truth = (for {
      (i, si) <- sets.iterator
      (j, sj) <- sets.iterator
      if i < j
      inter = (si intersect sj).size.toLong
      union = si.size + sj.size - inter
      if inter * 10000 >= union * tnum // same rational cut, no FP boundary
    } yield (i, j) -> (inter, si.size.toLong, sj.size.toLong,
      math.rint(inter.toDouble / union * 10000) / 10000)).toMap
    // exact algorithm: got and truth must be IDENTICAL sets with equal stats
    assert(got.keySet == truth.keySet,
      s"missed=${(truth.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- truth.keySet).take(5)}")
    truth.foreach { case (k, v) => assert(got(k) == v, s"stats @ $k") }
    assert(got.nonEmpty)
    info(s"prefix-filter exact pairs=${got.size}")
  }

  test("minhashAccuracy == independent minhash/jaccard reimplementation") {
    import spark.implicits._
    import scala.util.hashing.MurmurHash3
    val seed = 0xd5ed
    val k = 32
    val got = Dedup.minhashAccuracy(documents, "doc_id", "text")
      .collect()
      .map(r => (r.getAs[Long]("id0"), r.getAs[Long]("id1")) ->
        (r.getAs[Long]("n_eq"), r.getAs[Double]("est_jaccard"),
          r.getAs[Double]("jaccard"), r.getAs[Double]("abs_err"))).toMap
    assert(got.nonEmpty)
    // independent reimplementation of the hash family + banding
    val txts = documents.select($"doc_id".as[Long], $"text".as[String])
      .collect()
    def mins(t: String): Array[Int] = {
      val sh = Dedup.shingles2(t)
      Array.tabulate(k)(j =>
        sh.foldLeft(Int.MaxValue)((m, s) =>
          math.min(m, MurmurHash3.stringHash(s, seed + j * 0x9e3779b1))))
    }
    def bands(v: Array[Int]): Set[String] =
      (0 until 8).map(b => s"b$b:" + (0 until 4).map(r =>
        v(b * 4 + r)).mkString(":")).toSet
    val sigs = txts.map { case (id, t) => (id, Dedup.shingles2(t).toSet,
      mins(t)) }
    var checked = 0
    for {
      (i, si, vi) <- sigs; (j, sj, vj) <- sigs
      if i < j && bands(vi).intersect(bands(vj)).nonEmpty
    } {
      val nEq = (0 until k).count(x => vi(x) == vj(x)).toLong
      // HALF_UP like Spark's round (n/32 hits exact .5 boundaries)
      def r4(x: Double) = BigDecimal(x)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val est = r4(nEq.toDouble / k)
      val in = si.intersect(sj).size.toDouble
      val jac = r4(in / (si.size + sj.size - in))
      val err = r4(math.abs(est - jac))
      assert(got.contains((i, j)), s"missing candidate ($i,$j)")
      val (gn, ge, gj, ga) = got((i, j))
      assert(gn == nEq && math.abs(ge - est) < 1e-12 &&
        math.abs(gj - jac) < 1e-12 && math.abs(ga - err) < 1e-12,
        s"pair ($i,$j)")
      checked += 1
    }
    assert(checked == got.size, s"extra pairs: got ${got.size}, want $checked")
  }

  test("bbitMinhashAccuracy == b-bit reimplementation, exact bias correction") {
    import spark.implicits._
    import scala.util.hashing.MurmurHash3
    val seed = 0xd5ed
    val k = 32
    val got = Dedup.bbitMinhashAccuracy(documents, "doc_id", "text")
      .collect()
      .map(r => (r.getAs[Long]("id0"), r.getAs[Long]("id1")) ->
        (r.getAs[Long]("n_eq_b"), r.getAs[Double]("est_bbit"),
          r.getAs[Double]("jaccard"), r.getAs[Double]("abs_err"))).toMap
    assert(got.nonEmpty)
    val txts = documents.select($"doc_id".as[Long], $"text".as[String])
      .collect()
    def mins(t: String): Array[Int] = {
      val sh = Dedup.shingles2(t)
      Array.tabulate(k)(j =>
        sh.foldLeft(Int.MaxValue)((m, s) =>
          math.min(m, MurmurHash3.stringHash(s, seed + j * 0x9e3779b1))))
    }
    def bands(v: Array[Int]): Set[String] =
      (0 until 8).map(b => s"b$b:" + (0 until 4).map(r =>
        v(b * 4 + r)).mkString(":")).toSet
    val sigs = txts.map { case (id, t) => (id, Dedup.shingles2(t).toSet,
      mins(t)) }
    var checked = 0
    var negSeen = false
    for {
      (i, si, vi) <- sigs; (j, sj, vj) <- sigs
      if i < j && bands(vi).intersect(bands(vj)).nonEmpty
    } {
      val nEqB = (0 until k).count(x => (vi(x) & 15) == (vj(x) & 15)).toLong
      def r4(x: Double) = BigDecimal(x)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      // (c - 2^-b)/(1 - 2^-b) in exact integers: (16*n - 32)/480
      val est = r4((nEqB * 16 - 32).toDouble / 480)
      if (est < 0) negSeen = true
      val in = si.intersect(sj).size.toDouble
      val jac = r4(in / (si.size + sj.size - in))
      val err = r4(math.abs(est - jac))
      assert(got.contains((i, j)), s"missing candidate ($i,$j)")
      val (gn, ge, gj, ga) = got((i, j))
      assert(gn == nEqB && math.abs(ge - est) < 1e-12 &&
        math.abs(gj - jac) < 1e-12 && math.abs(ga - err) < 1e-12,
        s"pair ($i,$j)")
      checked += 1
      // a full-component match forces a b-bit match (mask is a
      // surjection), so n_eq_b >= the full-width equal count
      val nEq = (0 until k).count(x => vi(x) == vj(x)).toLong
      assert(nEqB >= nEq, s"mask lost a collision at ($i,$j)")
    }
    assert(checked == got.size, s"extra pairs: got ${got.size}, want $checked")
    info(s"b-bit pairs=${got.size} negative-estimate seen=$negSeen")
  }

  test("weighted minhash LSH: subset of bag brute force, exact values, high recall") {
    import spark.implicits._
    val docs = documents.limit(300)
    val got = Dedup.weightedMinhashLshPairs(docs, "doc_id", "text", 0.5)
      .select($"id0".as[Long], $"id1".as[Long], $"wj_num".as[Long],
        $"wj_den".as[Long], $"wjaccard".as[Double])
      .collect().toSet
    val txts = docs.select($"doc_id".as[Long], $"text".as[String]).collect()
    def ctf(s: String) = s.split(" ").groupBy(identity).view
      .mapValues(v => math.min(v.length, 8).toLong).toMap
    val brute = (for {
      (i, ti) <- txts.iterator; (j, tj) <- txts.iterator
      if i < j
      a = ctf(ti); b = ctf(tj)
      num = (a.keySet intersect b.keySet).toSeq
        .map(k => math.min(a(k), b(k))).sum
      den = a.values.sum + b.values.sum - num
      if num * 1000000L >= 500000L * den
    } yield (i, j, num, den,
      BigDecimal(num.toDouble / den)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(got.subsetOf(brute), "LSH pairs must be a subset of brute force")
    val hi = brute.filter(_._5 >= 0.8)
    assert(hi.nonEmpty)
    val recall = hi.count(got).toDouble / hi.size
    assert(recall >= 0.8, s"recall@0.8-sim = $recall")
  }

  test("minhashLshPairsDelta == full-union run filtered to touching-new") {
    import spark.implicits._
    val all = documents.limit(400)
    val newDf = all.where(col("doc_id") % 10 === 7)
    val oldDf = all.where(col("doc_id") % 10 =!= 7)
    val delta = Dedup.minhashLshPairsDelta(oldDf, newDf, "doc_id", "text", 0.5)
      .select($"id0".as[Long], $"id1".as[Long], $"jaccard".as[Double])
      .collect().toSet
    val full = Dedup.minhashLshPairs(all, "doc_id", "text", 0.5)
      .select($"id0".as[Long], $"id1".as[Long], $"jaccard".as[Double])
      .collect().toSet
    val expect = full.filter(p => p._1 % 10 == 7 || p._2 % 10 == 7)
    assert(delta == expect)
    assert(expect.nonEmpty, "slice must contain near-dup pairs")
    assert(full.exists(p => p._1 % 10 != 7 && p._2 % 10 != 7),
      "old-only pairs must exist and be excluded")
  }

  test("minhashLshPairsDelta: re-crawled ids (in both sides) — new text wins, no dup pairs") {
    import spark.implicits._
    val all = documents.limit(200)
    val newDf = all.where(col("doc_id") % 10 === 7)
    // old side CONTAINS the overlapping ids but with stale text
    val oldDf = all.where(col("doc_id") % 10 =!= 7).unionByName(
      newDf.withColumn("text", concat(lit("stale stale stale "), col("text"))))
    val delta = Dedup.minhashLshPairsDelta(oldDf, newDf, "doc_id", "text", 0.5)
      .select($"id0".as[Long], $"id1".as[Long], $"jaccard".as[Double])
      .collect()
    assert(delta.map(t => (t._1, t._2)).distinct.length == delta.length,
      "conflicting duplicate pairs from the overlap")
    // equality with the clean-disjoint run (new text wins == stale dropped)
    val clean = Dedup.minhashLshPairsDelta(
        all.where(col("doc_id") % 10 =!= 7), newDf, "doc_id", "text", 0.5)
      .select($"id0".as[Long], $"id1".as[Long], $"jaccard".as[Double])
      .collect()
    assert(delta.toSet == clean.toSet)
    assert(clean.nonEmpty)
  }

  test("nearDupGroups: matches local union-find over the emitted pairs; canonical = min id") {
    import spark.implicits._
    val pairs = Dedup.minhashLshPairs(documents, "doc_id", "text", 0.5)
      .select($"id0".as[Long], $"id1".as[Long]).collect()
    val got = Dedup.nearDupGroups(documents, "doc_id", "text", 0.5)
      .select($"id".as[Long], $"group_id".as[Long], $"is_canonical".as[Boolean])
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    val ids = documents.select($"doc_id".as[Long]).collect()
    // local union-find oracle
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    assert(got.size == ids.length)
    ids.foreach { i =>
      val root = find(i)
      val minMember = ids.filter(find(_) == root).min
      assert(got(i)._1 == minMember, s"doc $i group ${got(i)._1} vs $minMember")
      assert(got(i)._2 == (i == minMember))
    }
    // at least one non-trivial group exists in the corpus (it has dups)
    assert(got.values.exists(!_._2), "expected at least one non-canonical member")
  }

  test("simhash pairs: exact vs brute-force hamming") {
    import spark.implicits._
    val got = Dedup.simhashPairs(documents, "doc_id", "text", maxDist = 3)
      .select($"id0".as[Long], $"id1".as[Long], $"dist".as[Int])
      .collect().toSet
    val sh = documents.select($"doc_id".as[Long], $"text".as[String]).collect()
      .map { case (id, t) => id -> Dedup.simhash64(t) }
    val truth = (for {
      (i, si) <- sh.iterator
      (j, sj) <- sh.iterator
      if i < j
      d = java.lang.Long.bitCount(si ^ sj)
      if d <= 3
    } yield (i, j, d)).toSet
    // 4-band pigeonhole guarantees EXACT result for dist <= 3
    assert(got == truth, s"got=${got.size} truth=${truth.size}")
  }

  test("band-key LSH pairs == brute force over their own signatures under forced salting") {
    import spark.implicits._
    // twelve exact copies of one document make every band of its text a
    // 13-row bucket, which aim = 50 salts (fan-out ceil(13 / sqrt(50)) = 2)
    val base = documents.where(col("doc_id") < 300).select(col("doc_id"), col("text"))
    val docs = base.unionByName(base.where(col("doc_id") === 0)
      .crossJoin(spark.range(1, 13).toDF("k"))
      .select((col("k") + 100000L).as("doc_id"), col("text")))
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // (id0, id1, |A∩B|, |A∪B|) of every pair of signature rows that share
    // at least one band key
    def candidates(sig: DataFrame, mem: String) = {
      val rows = sig.select(col("doc").cast("long"), col(mem), col("bks"))
        .as[(Long, Seq[String], Seq[String])].collect()
        .map { case (id, m, k) => (id, m.toSet, k.toSet) }
      for {
        (i, mi, ki) <- rows.toSeq; (j, mj, kj) <- rows.toSeq
        if i < j && ki.exists(kj)
        n = mi.intersect(mj).size.toLong
      } yield (i, j, n, mi.size + mj.size - n)
    }
    def onceEach(got: Seq[(Long, Long)]) =
      assert(got.distinct.length == got.length, "a pair is emitted twice")

    val mh = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.5, aim = 50L)
      .select(col("id0").cast("long"), col("id1").cast("long"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSeq
    val mhWant = candidates(Dedup.minhashSignatures(docs, "doc_id", "text"), "sh")
      .map { case (i, j, n, u) => (i, j, r4(n.toDouble / u)) }
      .filter(_._3 >= 0.5).toSet
    onceEach(mh.map(t => (t._1, t._2)))
    assert(mh.toSet == mhWant, s"minhash: missed=${(mhWant -- mh).take(5)} " +
      s"extra=${(mh.toSet -- mhWant).take(5)}")
    assert(mhWant.count(_._1 == 0L) >= 12, "the copies must pair up")

    val wm = Dedup.weightedMinhashLshPairs(docs, "doc_id", "text", 0.5, aim = 50L)
      .select(col("id0").cast("long"), col("id1").cast("long"),
        col("wj_num").cast("long"), col("wj_den"), col("wjaccard"))
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val wmWant = candidates(Dedup.weightedMinhashSignatures(docs, "doc_id", "text"), "mem")
      .filter { case (_, _, n, u) => n * 1000000L >= 500000L * u }
      .map { case (i, j, n, u) => (i, j, n, u, r4(n.toDouble / u)) }.toSet
    onceEach(wm.map(t => (t._1, t._2)))
    assert(wm.toSet == wmWant, s"weighted: missed=${(wmWant -- wm).take(5)} " +
      s"extra=${(wm.toSet -- wmWant).take(5)}")
    assert(wmWant.count(_._1 == 0L) >= 12, "the copies must pair up")
  }

  test("exact dedup groups partition the table") {
    import spark.implicits._
    val g = Dedup.exactGroups(documents, col("text"), col("doc_id"))
    assert(g.agg(sum($"group_size")).head().getLong(0) == documents.count())
  }

  test("duplicatedSpans: per-doc dup-window fractions == local sliding-window oracle") {
    import spark.implicits._
    val w = 40; val s = 20
    val rows = documents.select($"doc_id".as[Long], $"text".as[String])
      .collect().toSeq
    // local oracle: same window grid, duplicate = substring seen in >=2 docs
    val wins = for {
      (id, t) <- rows if t.length >= w
      p <- 1 to (t.length - w + 1) by s
    } yield (id, t.substring(p - 1, p - 1 + w))
    val dupSet = wins.groupBy(_._2).filter(_._2.map(_._1).distinct.size >= 2).keySet
    val want = wins.groupBy(_._1).map { case (id, ws) =>
      (id, ws.size.toLong, ws.count(x => dupSet(x._2)).toLong)
    }.toSet
    val got = Dedup.duplicatedSpans(documents, "doc_id", "text", w, s)
      .select($"doc".as[Long], $"n_win".as[Long], $"n_dup".as[Long])
      .collect().toSet
    assert(got == want)
    assert(want.exists(_._3 > 0), "fixture has no duplicated spans")
  }

  test("winnowingFingerprints == local rightmost-min selection; detection guarantee") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val k = 12; val w = 8
    val shared = "the quick brown fox jumps over the lazy dog!"
    val corpus = Seq(
      (0L, "prefix one " + shared + " suffix alpha beta gamma"),
      (1L, "a completely different head " + shared + " and tail"),
      (2L, "no overlap here at all zzz qqq www eee rrr ttt yyy uuu"),
      (3L, "short"))  // below k+w-1: dropped
    val got = Dedup.winnowingFingerprints(corpus.toDF("doc_id", "text"),
        "doc_id", "text", k, w)
      .select($"doc".as[Long], $"pos".as[Long], $"fp".as[String])
      .collect().toSet
    // local oracle: rightmost min per full window, deduped
    val want = (for {
      (id, t) <- corpus if t.length >= k + w - 1
      grams = (1 to t.length - k + 1).map(p =>
        p.toLong -> md5hex(t.substring(p - 1, p - 1 + k)))
      i <- 0 to grams.length - w
      win = grams.slice(i, i + w)
      wmin = win.map(_._2).min
      (pos, fp) = win.filter(_._2 == wmin).last
    } yield (id, pos, fp)).toSet
    assert(got == want)
    // density: roughly 2/(w+1) of the gram count, never more than windows
    // guarantee: docs 0 and 1 share a >=w+k-1-char substring => >=1 shared fp
    val fps = got.groupBy(_._1).view.mapValues(_.map(_._3)).toMap
    assert((fps(0L) intersect fps(1L)).nonEmpty, "winnowing guarantee broken")
    assert((fps(2L) intersect fps(0L)).isEmpty)
    assert(!fps.contains(3L))
  }

  test("ngramNovelty: first copy stays novel, echoes are charged (local oracle)") {
    import spark.implicits._
    val w = 40; val s = 20
    val rows = documents.select($"doc_id".as[Long], $"text".as[String])
      .collect().toSeq
    val wins = for {
      (id, t) <- rows if t.length >= w
      p <- 1 to (t.length - w + 1) by s
    } yield (id, t.substring(p - 1, p - 1 + w))
    val firstDoc = wins.groupBy(_._2).map { case (h, ws) =>
      h -> ws.map(_._1).min }
    val want = wins.groupBy(_._1).map { case (id, ws) =>
      (id, ws.size.toLong, ws.count(x => firstDoc(x._2) < id).toLong)
    }.toSet
    val got = Dedup.ngramNovelty(documents, "doc_id", "text", w, s)
      .select($"doc".as[Long], $"n_win".as[Long], $"n_seen".as[Long])
      .collect().toSet
    assert(got == want)
    // order-awareness: some doc is charged, and the corpus-min doc never is
    assert(want.exists(_._3 > 0), "fixture has no echoed spans")
    val minDoc = rows.map(_._1).min
    assert(want.find(_._1 == minDoc).forall(_._3 == 0L))
  }

  test("jaccard pairs: pathological single-block corpus, forced salting == brute force") {
    import spark.implicits._
    // every doc shares one block key; a tiny aim forces fan-out k > 1 so
    // the pair set must survive two-sided salting without loss/duplication
    val docs = documents.limit(300)
    val one = lit("hot")
    val aim = 50L // k = ceil(300/sqrt(50)) = 43 -> heavy fan-out
    val got = Dedup.jaccardPairs(docs, "doc_id", "text", one, 0.5, aim = aim)
      .select($"id0".as[Long], $"id1".as[Long], $"jaccard".as[Double])
      .collect()
    assert(got.map(t => (t._1, t._2)).distinct.length == got.length, "duplicate pairs")
    val txts = docs.select($"doc_id".as[Long], $"text".as[String]).collect()
    def jac(a: String, b: String): Double = {
      val sa = a.split(" ").distinct.toSet; val sb = b.split(" ").distinct.toSet
      val i = (sa intersect sb).size.toDouble
      math.rint(i / (sa.size + sb.size - i) * 10000) / 10000
    }
    val truth = (for {
      (i, ti) <- txts.iterator; (j, tj) <- txts.iterator
      if i < j
      s = jac(ti, tj) if s >= 0.5
    } yield (i, j, s)).toSet
    assert(got.map(t => (t._1, t._2, t._3)).toSet == truth)
    assert(truth.nonEmpty)
  }

  test("jaccard pairs: two-level salting past a tiny maxK cap == brute force") {
    import spark.implicits._
    // aim 50 on 300 single-block docs needs k ~ 43 > maxK=4, so the
    // composite digit (k1=4, k2=4) must carry the fan-out without
    // losing/duplicating pairs
    val docs = documents.limit(300)
    val got = Dedup.jaccardPairsBy(docs, "doc_id",
      array_distinct(split(col("text"), " ")), lit("hot"), 0.5,
      aim = 50L, maxK = 4)
      .select($"id0".as[Long], $"id1".as[Long], $"jaccard".as[Double])
      .collect()
    assert(got.map(t => (t._1, t._2)).distinct.length == got.length, "duplicate pairs")
    val txts = docs.select($"doc_id".as[Long], $"text".as[String]).collect()
    def jac(a: String, b: String): Double = {
      val sa = a.split(" ").distinct.toSet; val sb = b.split(" ").distinct.toSet
      val i = (sa intersect sb).size.toDouble
      math.rint(i / (sa.size + sb.size - i) * 10000) / 10000
    }
    val truth = (for {
      (i, ti) <- txts.iterator; (j, tj) <- txts.iterator
      if i < j
      s = jac(ti, tj) if s >= 0.5
    } yield (i, j, s)).toSet
    assert(got.map(t => (t._1, t._2, t._3)).toSet == truth)
    assert(truth.nonEmpty)
  }

  test("weighted jaccard pairs: forced salting == bag brute force; integer num/den honest") {
    import spark.implicits._
    val docs = documents.limit(300)
    val got = Dedup.weightedJaccardPairs(docs, "doc_id", "text", lit("hot"),
        0.5, aim = 50L, maxK = 4)
      .select($"id0".as[Long], $"id1".as[Long], $"wj_num".as[Long],
        $"wj_den".as[Long], $"wjaccard".as[Double])
      .collect()
    assert(got.map(t => (t._1, t._2)).distinct.length == got.length,
      "duplicate pairs")
    val txts = docs.select($"doc_id".as[Long], $"text".as[String]).collect()
    def tf(s: String) = s.split(" ").groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val truth = (for {
      (i, ti) <- txts.iterator; (j, tj) <- txts.iterator
      if i < j
      a = tf(ti); b = tf(tj)
      num = (a.keySet intersect b.keySet).toSeq
        .map(k => math.min(a(k), b(k))).sum
      den = a.values.sum + b.values.sum - num
      if num * 1000000L >= 500000L * den
    } yield (i, j, num, den,
      // HALF_UP like Spark's round() (rint is half-even: 0.53125 differs)
      BigDecimal(num.toDouble / den)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(got.toSet == truth)
    assert(truth.nonEmpty)
    // weighted must disagree with set jaccard somewhere on this corpus
    // (tf profiles discriminate where token sets saturate)
    assert(truth.exists { case (_, _, num, den, _) => num != den })
  }

  test("containment pairs: == brute force under forced salting; catches the subset pair Jaccard misses") {
    import spark.implicits._
    // crafted quotation pair: doc B embeds ALL of doc A's tokens inside a
    // much larger vocabulary — containment(A,B)=1.0 but Jaccard ~ |A|/|B|
    val quoteA = "alpha beta gamma delta"
    val quoteB = ("alpha beta gamma delta " +
      (1 to 40).map(i => s"w$i").mkString(" "))
    val docs = documents.limit(200)
      .select($"doc_id", $"text")
      .union(Seq((9001L, quoteA), (9002L, quoteB)).toDF("doc_id", "text"))
    val got = Dedup.containmentPairsHashed(docs, "doc_id",
      Dedup.hashedSet(split(col("text"), " ")), lit("hot"), 0.6, aim = 50L)
      .select($"id0".as[Long], $"id1".as[Long], $"containment".as[Double])
      .collect()
    assert(got.map(t => (t._1, t._2)).distinct.length == got.length,
      "duplicate pairs")
    val txts = docs.select($"doc_id".as[Long], $"text".as[String]).collect()
    def cont(a: String, b: String): Double = {
      val sa = a.split(" ").distinct.toSet; val sb = b.split(" ").distinct.toSet
      val i = (sa intersect sb).size.toDouble
      math.rint(i / math.min(sa.size, sb.size) * 10000) / 10000
    }
    def jac(a: String, b: String): Double = {
      val sa = a.split(" ").distinct.toSet; val sb = b.split(" ").distinct.toSet
      val i = (sa intersect sb).size.toDouble
      math.rint(i / (sa.size + sb.size - i) * 10000) / 10000
    }
    val truth = (for {
      (i, ti) <- txts.iterator; (j, tj) <- txts.iterator
      if i < j
      s = cont(ti, tj) if s >= 0.6
    } yield (i, j, s)).toSet
    assert(got.map(t => (t._1, t._2, t._3)).toSet == truth)
    val tq = txts.find(_._1 == 9001L).get._2
    val tb = txts.find(_._1 == 9002L).get._2
    assert(got.exists(t => t._1 == 9001L && t._2 == 9002L && t._3 == 1.0),
      "quotation pair must surface at containment 1.0")
    assert(jac(tq, tb) < 0.6, "fixture broken: Jaccard should miss the pair")
  }

  test("tversky pairs: == brute force under forced salting; symmetric weights reduce to jaccard") {
    import spark.implicits._
    // prototype/variant pair: B drops half of A and adds little — with
    // alpha=8 (prototype-side deletions costly) the score drops hard,
    // with the roles reversed it stays high
    val docs = documents.limit(150).select($"doc_id", $"text")
    val aT = 8; val bT = 2
    val got = Dedup.tverskyPairs(docs, "doc_id", "text", lit("hot"),
      aT, bT, 0.55, aim = 50L)
      .select($"id0".as[Long], $"id1".as[Long], $"tversky".as[Double])
      .collect()
    assert(got.map(t => (t._1, t._2)).distinct.length == got.length)
    val txts = docs.select($"doc_id".as[Long], $"text".as[String]).collect()
    def tv(a: String, b: String, at: Long, bt: Long): Double = {
      val sa = a.split(" ").distinct.toSet; val sb = b.split(" ").distinct.toSet
      val i = (sa intersect sb).size.toLong
      val den = 10 * i + at * (sa.size - i) + bt * (sb.size - i)
      // HALF_UP like Spark/DuckDB round (rint's HALF_EVEN loses the
      // exact .78125-style ties this metric's /10 denominators produce)
      math.floor(10.0 * i / den * 10000 + 0.5) / 10000
    }
    val truth = (for {
      (i, ti) <- txts.iterator; (j, tj) <- txts.iterator
      if i < j
      s = tv(ti, tj, aT, bT) if s >= 0.55
    } yield (i, j, s)).toSet
    assert(got.map(t => (t._1, t._2, t._3)).toSet == truth)
    assert(truth.nonEmpty)
    // alpha = beta = 10 is exactly Jaccard
    val sym = Dedup.tverskyPairs(docs, "doc_id", "text", lit("hot"),
      10, 10, 0.5, aim = 50L)
      .select($"id0".as[Long], $"id1".as[Long], $"tversky".as[Double])
      .collect().toSet
    val jacTruth = (for {
      (i, ti) <- txts.iterator; (j, tj) <- txts.iterator
      if i < j
      s = tv(ti, tj, 10, 10) if s >= 0.5
    } yield (i, j, s)).toSet
    assert(sym == jacTruth)
    // asymmetry: prototype keeps everything, variant drops tokens ->
    // S(A,B) with costly-alpha on the LARGER side scores lower
    val a9 = "a b c d e f g h"
    val b9 = "a b c d x"
    assert(tv(a9, b9, 8, 2) < tv(b9, a9, 8, 2))
  }

  test("embedding cosine: exact salted equi-join == brute force; approx is a high-recall subset") {
    import spark.implicits._
    val embeddings = spark.read.parquet(s"$sfTiny/embeddings.parquet")
    val exact = Dedup.embeddingCosinePairs(embeddings, "vec_id", "embedding", 0.4,
      aim = 1000L) // force fan-out
      .select($"id0".as[Long], $"id1".as[Long], $"cos".as[Double]).collect().toSet
    // brute-force oracle
    val vecs = embeddings.select($"vec_id".as[Long], $"embedding".as[Seq[Float]])
      .collect().map { case (id, v) => id -> v.map(_.toDouble).toArray }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      (0 until a.length).foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      math.rint(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    val truth = (for {
      (i, vi) <- vecs.iterator; (j, vj) <- vecs.iterator
      if i < j
      c = cos(vi, vj) if c >= 0.4
    } yield (i, j, c)).toSet
    assert(exact == truth)
    assert(truth.nonEmpty)
    val approx = Dedup.embeddingCosinePairsApprox(embeddings, "vec_id", "embedding", 0.4)
      .select($"id0".as[Long], $"id1".as[Long], $"cos".as[Double]).collect().toSet
    assert(approx.subsetOf(exact), "approx must never invent pairs")
    val recall = if (truth.isEmpty) 1.0 else approx.size.toDouble / truth.size
    info(s"approx cosine recall = $recall (${approx.size}/${truth.size})")
    assert(recall >= 0.5)
  }

  test("dedupFunnel stages are consistent with their component operators") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet")
    val rows = Dedup.dedupFunnel(docs, "doc_id", "text", threshold = 0.5)
      .orderBy("stage_idx").collect()
    assert(rows.map(_.getAs[String]("stage")).toSeq ==
      Seq("raw", "exact", "neardup"))
    val Seq(raw, exact, nd) = rows.toSeq
    // raw row == direct corpus counts
    val base = docs.select(col("doc_id").cast("long").as("id"), col("text"))
      .withColumn("n_tokens",
        org.apache.spark.sql.functions.size(split(col("text"), " ")).cast("long"))
    assert(raw.getAs[Long]("n_docs") == base.count())
    assert(raw.getAs[Long]("n_tokens") ==
      base.agg(org.apache.spark.sql.functions.sum("n_tokens")).head.getLong(0))
    // exact row == distinct texts (keeper = min id per text)
    val texts = base.select($"text".as[String], $"id".as[Long],
        $"n_tokens".as[Long]).collect()
    val keepers = texts.groupBy(_._1).map { case (_, g) => g.minBy(_._2) }.toSeq
    assert(exact.getAs[Long]("n_docs") == keepers.size)
    assert(exact.getAs[Long]("n_tokens") == keepers.map(_._3).sum)
    // neardup row == canonical rows of nearDupGroups over the survivors
    val survivorIds = keepers.map(_._2).toSet
    val surv = base.where(col("id").isin(survivorIds.toSeq: _*))
    val canon = Dedup.nearDupGroups(surv, "id", "text", 0.5)
      .where(col("is_canonical")).select($"id".as[Long]).collect().toSet
    assert(nd.getAs[Long]("n_docs") == canon.size)
    assert(nd.getAs[Long]("n_tokens") ==
      keepers.filter(k => canon(k._2)).map(_._3).sum)
    // the funnel must be monotone
    assert(raw.getAs[Long]("n_docs") >= exact.getAs[Long]("n_docs") &&
      exact.getAs[Long]("n_docs") >= nd.getAs[Long]("n_docs"))
  }

  test("semanticDedup == brute force within-cell pairing + union-find, keep = min vid") {
    import spark.implicits._
    val embeddings = spark.read.parquet(s"$sfTiny/embeddings.parquet")
    val assign = graft.ann.Ann.ivfAssignments(embeddings, "vec_id", "embedding")
      .persist()
    val got = Dedup.semanticDedup(assign, threshold = 0.4, aim = 1000L)
      .select($"vid".as[Long], $"grp".as[Long], $"keep".as[Boolean])
      .collect().sortBy(_._1)
    // brute-force oracle from the SAME assignments
    val rows = assign.select($"vid".as[Long], $"v".as[Seq[Double]], $"list".as[Int])
      .collect()
    def dot6(a: Seq[Double], b: Seq[Double]): Double =
      math.rint(a.zip(b).map { case (x, y) => x * y }.sum * 1e6) / 1e6
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for {
      a <- rows; b <- rows
      if a._1 < b._1 && a._3 == b._3 && dot6(a._2, b._2) >= 0.4
    } {
      val (ra, rb) = (find(a._1), find(b._1))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = rows.map(_._1).sorted.map(v => (v, find(v), find(v) == v))
    assert(got.toSeq == want.toSeq)
    assert(got.exists(!_._3), "fixture should produce at least one removal")
    assign.unpersist()
  }
}

class AnnSpec extends SparkSpec {
  private lazy val embeddings = spark.read.parquet(s"$sfTiny/embeddings.parquet").cache()

  test("kCentersInt == local Gonzalez greedy; covering radius non-increasing") {
    import spark.implicits._
    val k = 6
    val got = Ann.kCentersInt(embeddings.limit(120), "vec_id", "embedding", k)
      .orderBy("round").collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[Long]("center_id"),
        r.getAs[Long]("maxmin_dist"))).toSeq
    // local greedy over the operator's own quantization semantics
    def q(x: Double, sc: Double) = BigDecimal(x / sc)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt
    val vecs = embeddings.limit(120)
      .select($"vec_id".as[Long], $"embedding".as[Seq[Float]]).collect()
      .map { case (id, e) =>
        val d = e.map(_.toDouble)
        val sc0 = d.map(math.abs).max / 127.0
        val sc = if (sc0 == 0) 1.0 else sc0
        id -> d.map(x => q(x, sc)).toArray
      }.sortBy(_._1)
    def d2(a: Array[Int], b: Array[Int]): Long =
      a.zip(b).map { case (x, y) => (x - y).toLong * (x - y) }.sum
    var centers = Vector((vecs.head._1, vecs.head._2, 0L))
    while (centers.size < k) {
      val (nid, nv, nd) = vecs
        .map { case (id, v) => (id, v, centers.map(c => d2(v, c._2)).min) }
        .minBy { case (id, _, dd) => (-dd, id) }
      centers = centers :+ ((nid, nv, nd))
    }
    val want = centers.zipWithIndex
      .map { case ((cid, _, d), i) => (i + 1, cid, d) }
    assert(got == want, s"got=$got want=$want")
    // the max-min selection values are the covering radii of growing
    // center sets: non-increasing from round 2 on
    val radii = got.drop(1).map(_._3)
    assert(radii.sliding(2).forall {
      case Seq(a, b) => a >= b
      case _ => true
    }, s"radii not non-increasing: $radii")
    assert(got.map(_._2).distinct.size == k)
  }

  test("kmeansInt: == local integer Lloyd; partition-invariant") {
    import spark.implicits._
    val got = Ann.kmeansInt(embeddings, "vec_id", "embedding", k = 8, iters = 2)
      .select($"vec_id".as[Long], $"cluster".as[Long], $"dist".as[Long])
      .collect().toSet
    // local oracle over the operator's own quantizer output (quantization
    // semantics are pinned separately in the int8 specs)
    val uv: Map[Long, Array[Int]] = Ann.quantizeInt8(embeddings, "vec_id", "embedding")
      .select($"vec_id".as[Long], $"qvec".as[Seq[Int]])
      .collect().map { case (id, v) => id -> v.map(_ + 127).toArray }.toMap
    def d2(a: Array[Int], b: Array[Int]): Long =
      (0 until a.length).map(i => (a(i) - b(i)).toLong * (a(i) - b(i))).sum
    var cents: Map[Long, Array[Int]] =
      uv.keys.toSeq.sorted.take(8).map(id => id -> uv(id)).toMap
    var assign: Map[Long, (Long, Long)] = Map.empty
    for (_ <- 1 to 2) {
      assign = uv.map { case (id, v) =>
        val (dist, cid) = cents.toSeq.map { case (c, cv) => (d2(v, cv), c) }.min
        id -> (cid, dist)
      }
      cents = cents.map { case (cid, old) =>
        val members = assign.collect { case (id, (c, _)) if c == cid => uv(id) }
        cid -> (if (members.isEmpty) old
                else Array.tabulate(old.length)(i =>
                  (members.map(_(i).toLong).sum / members.size).toInt))
      }
    }
    val want = assign.map { case (id, (cid, dist)) => (id, cid, dist) }.toSet
    assert(got == want)
    assert(got.map(_._2).size > 1, "degenerate clustering")
    // bit-identical under a different partitioning
    val got2 = Ann.kmeansInt(embeddings.repartition(13), "vec_id",
        "embedding", k = 8, iters = 2)
      .select($"vec_id".as[Long], $"cluster".as[Long], $"dist".as[Long])
      .collect().toSet
    assert(got2 == got)
  }

  test("brute-force top-k matches a local oracle") {
    import spark.implicits._
    val got = Ann.bruteForceTopK(embeddings,
      embeddings.where(col("vec_id") < 5), "vec_id", "embedding", k = 3)
      .select($"query_id".as[Long], $"neighbor_id".as[Long], $"rank".as[Long])
      .collect().toSet
    val vecs = embeddings.select($"vec_id".as[Long], $"embedding".as[Seq[Float]])
      .collect().map { case (id, v) => id -> v.map(_.toDouble).toArray }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      (0 until a.length).foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      math.rint(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    val truth = (for ((q, qv) <- vecs.iterator if q < 5) yield {
      vecs.filter(_._1 != q).map { case (n, nv) => (n, cos(qv, nv)) }
        .sortBy { case (n, s) => (-s, n) }.take(3).zipWithIndex
        .map { case ((n, _), r) => (q, n, (r + 1).toLong) }
    }).flatten.toSet
    assert(got == truth)
  }

  test("IVF top-k: recall@5 vs brute force (16 lists, 4 probes) + valid ranks") {
    import spark.implicits._
    val q = embeddings.where(col("vec_id") < 20)
    val exact = Ann.bruteForceTopK(embeddings, q, "vec_id", "embedding", 5)
      .select($"query_id".as[Long], $"neighbor_id".as[Long]).collect().toSet
    val ivf = Ann.ivfTopK(embeddings, q, "vec_id", "embedding", 5)
    val rows = ivf.select($"query_id".as[Long], $"neighbor_id".as[Long],
      $"rank".as[Long]).collect()
    // ranks are 1..k per query, no duplicate neighbors
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.sameElements(1L to rs.length))
      assert(rs.map(_._2).distinct.length == rs.length)
    }
    val approx = rows.map(r => (r._1, r._2)).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(s"IVF recall@5 = $recall")
    // near-random embeddings are the worst case for any coarse quantizer;
    // 4/16 probes touch 25% of the corpus
    assert(recall >= 0.4, s"recall $recall")
  }

  test("LSH top-k achieves >=0.5 recall@5 vs brute force (16x6 tables)") {
    import spark.implicits._
    val q = embeddings.where(col("vec_id") < 20)
    val exact = Ann.bruteForceTopK(embeddings, q, "vec_id", "embedding", 5)
      .select($"query_id".as[Long], $"neighbor_id".as[Long]).collect().toSet
    val approx = Ann.lshTopK(embeddings, q, "vec_id", "embedding", 5)
      .select($"query_id".as[Long], $"neighbor_id".as[Long]).collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(s"recall@5 = $recall")
    // these embeddings are near-random (max pairwise cos 0.51) — the
    // worst case for sign-LSH; clustered real embeddings recall far higher
    assert(recall >= 0.5, s"recall $recall")
  }

  test("int8 quantization: values honest to the formula, cosine within quantization error") {
    import spark.implicits._
    val q = Ann.quantizeInt8(embeddings, "vec_id", "embedding")
      .select($"vec_id".as[Long], $"scale".as[Double], $"qvec".as[Seq[Int]])
      .collect()
    val raw = embeddings.select($"vec_id".as[Long], $"embedding".as[Seq[Float]])
      .collect().toMap
    q.foreach { case (id, scale, qv) =>
      val v = raw(id).map(_.toDouble)
      assert(qv.forall(x => x >= -127 && x <= 127))
      assert(math.abs(scale - v.map(math.abs).max / 127.0) < 1e-12)
      // reconstruction error bounded by scale/2 per coordinate
      qv.zip(v).foreach { case (qx, x) =>
        assert(math.abs(qx * scale - x) <= scale / 2 + 1e-9)
      }
    }
    // quantized cosine tracks exact cosine closely (int8 on ~unit vectors)
    val exact = Ann.bruteForceTopK(embeddings,
      embeddings.where(col("vec_id") < 10), "vec_id", "embedding", 5)
      .select($"query_id".as[Long], $"neighbor_id".as[Long], $"cos".as[Double])
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val qk = Ann.int8TopK(embeddings,
      embeddings.where(col("vec_id") < 10), "vec_id", "embedding", 5)
      .select($"query_id".as[Long], $"neighbor_id".as[Long], $"cos".as[Double])
      .collect()
    assert(qk.nonEmpty)
    qk.foreach { case (qid, nid, c) =>
      exact.get((qid, nid)).foreach(e => assert(math.abs(c - e) < 0.02, s"($qid,$nid) $c vs $e"))
    }
    // top-1 neighbor agrees with exact for nearly all queries
    val t1e = exact.keys.groupBy(_._1) // exact already top-5; derive top-1 via cos
    val exTop1 = exact.toSeq.groupBy(_._1._1).map { case (q2, xs) => q2 -> xs.maxBy(_._2)._1._2 }
    val qTop1 = qk.groupBy(_._1).map { case (q2, xs) => q2 -> xs.maxBy(_._3)._2 }
    val agree = exTop1.count { case (q2, n) => qTop1.get(q2).contains(n) }
    info(s"top-1 agreement = $agree/${exTop1.size}")
    assert(agree >= exTop1.size - 2)
  }

  test("rrfFuse: hand-computed fusion, missing-list terms drop, 0-filled") {
    import spark.implicits._
    val l1 = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L))
      .toDF("query_id", "neighbor_id", "rank")
    val l2 = Seq((1L, 11L, 1L), (1L, 13L, 2L))
      .toDF("query_id", "neighbor_id", "rank")
    val got = Ann.rrfFuse(Seq(l1, l2), k0 = 60)
      .select("query_id", "neighbor_id", "rank_1", "rank_2",
        "rrf_score", "fused_rank")
      .as[(Long, Long, Long, Long, Double, Long)]
      .collect().map(r => r._2 -> ((r._3, r._4, r._5, r._6))).toMap
    def r9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // 11 in both lists: 1/62 + 1/61 beats 10's 1/61
    assert(got(11L) == ((2L, 1L, r9(1.0 / 62 + 1.0 / 61), 1L)))
    assert(got(10L) == ((1L, 0L, r9(1.0 / 61), 2L)))
    assert(got(13L) == ((0L, 2L, r9(1.0 / 62), 3L)))
    assert(got(12L) == ((3L, 0L, r9(1.0 / 63), 4L)))
    assert(got.size == 4)
  }
}

class MultimodalSpec extends SparkSpec {
  test("perceptual hash: variants cluster, groups separate, banding exact <=3") {
    import spark.implicits._
    val media = Multimodal.synthPngVariants(spark, groups = 20)
    val ph = Multimodal.perceptualHashes(media, "doc", "payload")
      .collect().map(p => p.doc -> p).toMap
    assert(ph.values.forall(_.ok), "all variant PNGs must decode")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // within-group variants differ by at most the flipped cells (+mean
    // drift); across groups the gradient orientation differs
    val within = for (g <- 0 until 20; v <- 1 to 2)
      yield ham(ph(g * 3L).hash, ph(g * 3L + v).hash)
    assert(within.max <= 3, s"variant drifted: ${within.max} bits")
    // the banded pair path == brute-force Hamming <= 3 over all hashes
    val got = Multimodal.imageNearDupPairs(media, "doc", "payload", 3)
      .select($"id0".as[Long], $"id1".as[Long], $"dist".as[Int])
      .collect().toSet
    val want = (for {
      a <- ph.values; b <- ph.values
      if a.doc < b.doc
      d = ham(a.hash, b.hash) if d <= 3
    } yield (a.doc, b.doc, d)).toSet
    assert(got == want)
    assert(want.nonEmpty)
    // the corpus is not one blob: most cross-group pairs are far
    val cross = for (g <- 0 until 19)
      yield ham(ph(g * 3L).hash, ph((g + 1) * 3L).hash)
    assert(cross.count(_ > 3) >= 15, s"groups not separated: $cross")
    // hash bits re-derive from cells exactly (the oracle's construction)
    ph.values.foreach { p =>
      val mean = p.cells.map(_.toLong).sum / 64
      val rebuilt = p.cells.zipWithIndex
        .collect { case (c, i) if c > mean => 1L << i }
        .foldLeft(0L)(_ | _)
      assert(rebuilt == p.hash)
    }
  }

  test("feature extraction: schema, determinism, partition invariance") {
    import spark.implicits._
    val pages = graft.ingest.PagesSynth.pages(spark, Seq(100, 100)).toDF()
    val f1 = Multimodal.extractFeatures(pages, "entity_id", "html", featDim = 16)
    val rows = f1.collect()
    assert(rows.length == 200)
    assert(rows.forall(_.feature.length == 16))
    assert(rows.forall(r => r.width >= 64 && r.height >= 64 && r.channels == 3))
    val f2 = Multimodal.extractFeatures(pages.repartition(13), "entity_id", "html", 16)
    assert(f2.collect().map(r => (r.doc, r.width, r.height, r.feature.toSeq)).toSet ==
      rows.map(r => (r.doc, r.width, r.height, r.feature.toSeq)).toSet)
  }

  test("real PNG payloads decode via ImageIO; non-images fall back to the stub") {
    import spark.implicits._
    // render a real 20x10 PNG in-test
    val img = new java.awt.image.BufferedImage(20, 10,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 20; y <- 0 until 10)
      img.setRGB(x, y, (x * 12) << 16 | (y * 25) << 8 | 40)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val notAnImage = "<html><body>hello</body></html>".getBytes("UTF-8")

    val df = Seq((1L, png), (2L, notAnImage)).toDF("id", "payload")
    val rows = Multimodal.extractFeatures(df, "id", "payload", featDim = 8)
      .collect().sortBy(_.doc)
    val decoded = rows(0)
    assert(decoded.width == 20 && decoded.height == 10 && decoded.channels == 3)
    assert(decoded.feature.length == 8)
    assert(decoded.feature.forall(f => f >= 0.0f && f <= 1.0f))
    // fallback path produces the stub's deterministic fake dims
    val stub = rows(1)
    assert(stub.width >= 64 && stub.height >= 64)
    // determinism across invocations
    val again = Multimodal.extractFeatures(df, "id", "payload", 8)
      .collect().sortBy(_.doc)
    assert(again(0).feature.toSeq == decoded.feature.toSeq)
  }

  test("magic-byte sniff admits JDK-decodable formats, rejects the rest cheaply") {
    def png = { // real encoder output for each format
      val img = new java.awt.image.BufferedImage(4, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    def enc(fmt: String) = {
      val img = new java.awt.image.BufferedImage(4, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos); bos.toByteArray
    }
    assert(Multimodal.looksLikeImage(png))
    assert(Multimodal.looksLikeImage(enc("jpg")))
    assert(Multimodal.looksLikeImage(enc("gif")))
    assert(Multimodal.looksLikeImage(enc("bmp")))
    assert(!Multimodal.looksLikeImage("<html>x</html>".getBytes("UTF-8")))
    assert(!Multimodal.looksLikeImage(Array.emptyByteArray))
    assert(!Multimodal.looksLikeImage(Array[Byte](0, 1, 2, 3, 4, 5, 6, 7)))
    // sniff must never change decode results: a sniff-pass that ImageIO
    // then rejects (truncated PNG header) still falls back to the stub
    assert(Multimodal.decodeImage(png.take(10), 4).isEmpty)
  }

  test("resizeImages: real bilinear resize, PNG re-encode, pass-through for non-images") {
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(20, 10,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 20; y <- 0 until 10)
      img.setRGB(x, y, (x * 12) << 16 | (y * 25) << 8 | 40)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val notAnImage = "plain text".getBytes("UTF-8")

    val rows = Multimodal.resizeImages(
      Seq((1L, png), (2L, notAnImage)).toDF("id", "payload"),
      "id", "payload", outW = 8, outH = 6).collect().sortBy(_.doc)
    val ok = rows(0)
    assert(ok.ok && ok.outWidth == 8 && ok.outHeight == 6)
    // output is a real PNG with the requested dimensions
    val round = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ok.resized))
    assert(round != null && round.getWidth == 8 && round.getHeight == 6)
    // non-image passes through unchanged, flagged
    val thru = rows(1)
    assert(!thru.ok && thru.resized.toSeq == notAnImage.toSeq)
    // determinism: same bytes out on a second run
    val again = Multimodal.resizeImages(
      Seq((1L, png)).toDF("id", "payload"), "id", "payload", 8, 6)
      .collect().head
    assert(again.resized.toSeq == ok.resized.toSeq)
  }

  test("synthPngs: deterministic real PNGs, partition-invariant, junk rows flagged by resize") {
    import spark.implicits._
    val a = Multimodal.synthPngs(spark, 20).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).sortBy(_._1)
    assert(a.length == 20)
    // same bytes regardless of partitioning (mapPartitions is per-row pure)
    val b = Multimodal.synthPngs(spark, 20).repartition(7).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    // PNG rows decode to the programmed dims; junk rows (i % 7 == 3) don't
    a.foreach { case (i, bytes) =>
      val img = try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes.toArray)) catch { case _: Throwable => null }
      if (i % 7 == 3) assert(img == null)
      else {
        assert(img != null)
        assert(img.getWidth == 16 + (i * 7) % 48 && img.getHeight == 12 + (i * 5) % 36)
      }
    }
    val rz = Multimodal.resizeImages(
      Multimodal.synthPngs(spark, 20), "doc", "payload", 9, 5).collect()
    assert(rz.filter(!_.ok).map(_.doc).sorted.toSeq == Seq(3L, 10L, 17L))
    assert(rz.filter(_.ok).forall(r => r.outWidth == 9 && r.outHeight == 5))
  }

  test("frame sampling slices fixed-size frames with stride") {
    import spark.implicits._
    val df = Seq((1L, Array.tabulate[Byte](100)(_.toByte))).toDF("id", "payload")
    val frames = Multimodal.sampleFrames(df, "id", "payload", frameBytes = 10, stride = 2)
    val got = frames.select($"frame_idx".as[Int]).collect().sorted
    assert(got.sameElements(Array(0, 2, 4, 6, 8)))
  }
}

class CurationOpsSpec extends SparkSpec {
  test("blockingMetrics: reduction ratio + completeness/quality on a toy block set") {
    import spark.implicits._
    // records: dp0 = {1:{a,b}, 2:{b}}, dp1 = {10:{a}, 11:{c}}
    val blocked = Seq((0, 1L, "a"), (0, 1L, "b"), (0, 2L, "b"),
      (1, 10L, "a"), (1, 11L, "c")).toDF("dp", "entity_id", "block_key")
    val truth = Seq((1L, 10L), (2L, 11L)).toDF("rec0", "rec1")
    val m = graft.ingest.Blocking.blockingMetrics(blocked, truth).head()
    assert(m.getLong(m.fieldIndex("n_cand")) == 1)   // only (1,10) share a block
    assert(m.getLong(m.fieldIndex("n_true")) == 2)
    assert(m.getLong(m.fieldIndex("tp")) == 1)
    assert(m.getDouble(m.fieldIndex("reduction_ratio")) == 0.75) // 1 - 1/(2*2)
    assert(m.getDouble(m.fieldIndex("pairs_completeness")) == 0.5)
    assert(m.getDouble(m.fieldIndex("pairs_quality")) == 1.0)
  }

  test("keepBestPerGroup: argmax per near-dup group, ties to smallest id") {
    import spark.implicits._
    val t1 = "x y z w v u t s"
    val t2 = "aa bb cc dd ee ff"
    val df = Seq((1L, t1, 5L), (2L, t1, 9L), (3L, t2, 7L),
      (4L, t1, 9L)).toDF("doc_id", "text", "score")
    val got = Dedup.keepBestPerGroup(df, "doc_id", "text",
        col("score"), threshold = 0.5)
      .select($"group_id".as[Long], $"keeper_id".as[Long],
        $"group_size".as[Long], $"keeper_score".as[Long])
      .collect().sortBy(_._1)
    // identical texts {1,2,4} form one group; 2 and 4 tie on score -> 2
    assert(got.toSeq == Seq((1L, 2L, 3L, 9L), (3L, 3L, 1L, 7L)))
  }

  test("stratifiedSample: per-stratum quota, deterministic at any parallelism") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet")
    val a = TextOps.stratifiedSample(docs.repartition(13), "doc_id",
      col("lang"), k = 7)
    val b = TextOps.stratifiedSample(docs.coalesce(1), "doc_id",
      col("lang"), k = 7)
    val ka = a.groupBy($"stratum").count().as[(String, Long)].collect().toMap
    val sizes = docs.groupBy($"lang").count().as[(String, Long)].collect().toMap
    sizes.foreach { case (lang, n) => assert(ka(lang) == math.min(7L, n)) }
    val sa = a.select($"stratum", $"id", $"sample_rank").as[(String, Long, Int)]
      .collect().sortBy(r => (r._1, r._3))
    val sb = b.select($"stratum", $"id", $"sample_rank").as[(String, Long, Int)]
      .collect().sortBy(r => (r._1, r._3))
    assert(sa.sameElements(sb))
  }

  test("invertedIndex: df/tf counts and bounded sorted posting samples") {
    import spark.implicits._
    val df = Seq((1L, "a b a"), (2L, "a c"), (3L, "b b")).toDF("doc_id", "text")
    val got = TextOps.invertedIndex(df, "doc_id", "text", minDf = 2L)
      .select($"token".as[String], $"df".as[Long], $"tf".as[Long],
        $"sample_docs".as[String]).collect().sortBy(_._1)
    assert(got.toSeq == Seq(("a", 2L, 3L, "1,2"), ("b", 2L, 3L, "1,3")))
    // the posting sample is capped
    val many = (1L to 30L).map(i => (i, "tok")).toDF("doc_id", "text")
    val capped = TextOps.invertedIndex(many, "doc_id", "text", minDf = 2L)
      .select($"sample_docs".as[String]).head()
    assert(capped.split(",").length == 10)
    assert(capped == (1L to 10L).mkString(","))
  }

  test("retentionCohorts: hand-built cohort matrix; multi-event weeks count once") {
    import spark.implicits._
    def ts(d: String) = java.sql.Timestamp.valueOf(d + " 12:00:00")
    // weeks (Mondays): 2024-01-01, -08, -15
    // u1: w0 + w1 + w2 (twice in w1 -> still one)
    // u2: w0 only; u3: w1 + w2 (cohort = second week)
    val ev = Seq(
      (1L, ts("2024-01-02")), (1L, ts("2024-01-09")), (1L, ts("2024-01-10")),
      (1L, ts("2024-01-17")),
      (2L, ts("2024-01-03")),
      (3L, ts("2024-01-11")), (3L, ts("2024-01-16"))
    ).toDF("user_id", "ts")
    val got = graft.streaming.EventStream.retentionCohorts(ev)
      .select($"cohort_week".as[String], $"week_offset".as[Int],
        $"n_users".as[Long])
      .collect().toSet
    assert(got == Set(
      ("2024-01-01", 0, 2L), ("2024-01-01", 1, 1L), ("2024-01-01", 2, 1L),
      ("2024-01-08", 0, 1L), ("2024-01-08", 1, 1L)))
  }

  test("funnel: ordered-stage minima, chain breaks null out") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // A: full ordered chain; B: click BEFORE signup only (chain breaks);
    // C: signup+click, no purchase; D: never signs up (absent)
    val ev = Seq(
      (1L, "signup", ts(100)), (1L, "click", ts(200)), (1L, "purchase", ts(300)),
      (1L, "click", ts(50)), // pre-signup click must not count
      (2L, "click", ts(10)), (2L, "signup", ts(20)),
      (3L, "signup", ts(10)), (3L, "click", ts(10)), // same-instant click counts (>=)
      (4L, "click", ts(10)), (4L, "purchase", ts(20))
    ).toDF("user_id", "event_type", "ts")
    val got = graft.streaming.EventStream
      .funnel(ev, Seq("signup", "click", "purchase"))
      .select($"user_id".as[Long], $"t1".as[Long],
        $"t2".as[Option[Long]], $"t3".as[Option[Long]])
      .collect().toSet
    val M = 1000000L
    assert(got == Set(
      (1L, 100L * M, Some(200L * M), Some(300L * M)),
      (2L, 20L * M, None, None),
      (3L, 10L * M, Some(10L * M), None)))
  }

  test("mixSample: deterministic hash-threshold rates, exact edge weights") {
    import spark.implicits._
    val documents = spark.read.parquet(s"$sfTiny/documents.parquet")
    val en = documents.where($"lang" === "en").count()
    // weight 1.0 keeps a stratum whole, 0.0 drops it entirely
    val edges = TextOps.mixSample(documents, "doc_id", $"lang",
      Map("en" -> 1.0, "fr" -> 0.0))
    assert(edges.where($"lang" === "en").count() == en)
    assert(edges.where($"lang" === "fr").count() == 0)
    // fractional weight: deterministic, partition-invariant, near-rate
    val a = TextOps.mixSample(documents, "doc_id", $"lang", Map("en" -> 0.25))
      .select($"doc_id".as[Long]).collect().toSet
    val b = TextOps.mixSample(documents.repartition(17), "doc_id", $"lang",
      Map("en" -> 0.25)).select($"doc_id".as[Long]).collect().toSet
    assert(a == b, "hash-threshold sampling must be partition-invariant")
    val keptEn = documents.where($"lang" === "en")
      .join(a.toSeq.toDF("doc_id"), "doc_id").count()
    val rate = keptEn.toDouble / en
    assert(math.abs(rate - 0.25) < 0.12, s"en keep rate $rate, want ~0.25")
    // strata absent from the weight map ride the default weight (1.0)
    val nonEn = documents.where($"lang" =!= "en").count()
    assert(a.size == nonEn + keptEn)
  }

  test("sessionize: gap splits, per-session aggregates") {
    import spark.implicits._
    val base = 1700000000L
    val ev = Seq(
      (1L, 1L, base, 1.0), (2L, 1L, base + 100, 2.0),
      (3L, 1L, base + 2000, 4.0), // 1900s gap > 1800 -> new session
      (4L, 2L, base + 50, 8.0))
      .toDF("event_id", "user_id", "es", "value")
      .select($"event_id", $"user_id",
        to_timestamp(from_unixtime($"es")).as("ts"), $"value")
    val got = graft.streaming.EventStream.sessionize(ev, gapSeconds = 1800L)
      .select($"user_id", $"session_seq", $"n_events", $"start_s",
        $"end_s", $"duration_s", $"sum_value")
      .as[(Long, Long, Long, Long, Long, Long, Double)]
      .collect().sortBy(r => (r._1, r._2))(
        Ordering.Tuple2(Ordering.Long, Ordering.Long))
    assert(got.toSeq == Seq(
      (1L, 0L, 2L, base, base + 100, 100L, 3.0),
      (1L, 1L, 1L, base + 2000, base + 2000, 0L, 4.0),
      (2L, 0L, 1L, base + 50, base + 50, 0L, 8.0)))
  }
}
