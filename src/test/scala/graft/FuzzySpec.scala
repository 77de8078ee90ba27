package graft

import graft.link.Fuzzy

class FuzzySpec extends SparkSpec {

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def typo(s: String): String = {
    val m = s.length / 2
    s.substring(0, m) + s.substring(m + 1)
  }

  test("fuzzyJoin == brute force over shared-affix blocks; distances exact") {
    import spark.implicits._
    val names = spark.read.parquet(s"$sfTiny/part.parquet")
      .select($"p_name").distinct().as[String].collect().toSeq
    assert(names.size > 30)
    val queries = names.map(n => (n, typo(n))).toDF("orig", "qname")
    val corpus = names.toDF("cand")
    val got = Fuzzy.fuzzyJoin(queries, "qname", corpus, "cand", maxDist = 2)
      .select($"qname".as[String], $"cand".as[String], $"dist".as[Int])
      .collect().toSet
    val brute = (for {
      n <- names
      q = typo(n)
      c <- names
      if lev(q, c) <= 2
    } yield (q, c, lev(q, c))).toSet
    val blockedBrute = brute.filter { case (q, c, _) =>
      q.take(2) == c.take(2) || q.takeRight(2) == c.takeRight(2)
    }
    assert(got == blockedBrute)
    // the middle-char deletion keeps both affixes intact, so every
    // (typo(n), n) self-pair must be recovered at distance 1
    names.foreach { n =>
      assert(got.contains((typo(n), n, 1)), s"missed self-match for '$n'")
    }
    // and the blocking must actually be lossless on this corpus's
    // <=2-distance pairs would be too strong in general — measure recall
    val recall = blockedBrute.size.toDouble / brute.size
    assert(recall >= 0.95, s"affix-blocking recall $recall")
  }

  test("fuzzyGroups == local union-find over the blocked pair set") {
    import spark.implicits._
    import org.apache.spark.sql.functions.min
    val names = spark.read.parquet(s"$sfTiny/part.parquet")
      .groupBy($"p_name".as("name")).agg(min($"p_partkey").as("id"))
    val rows = names.select($"id".as[Long], $"name".as[String]).collect().toSeq
    val got = Fuzzy.fuzzyGroups(names, "id", "name")
      .select($"id".as[Long], $"group_id".as[Long]).collect().toMap
    val pairs = for {
      (i0, n0) <- rows
      (i1, n1) <- rows
      if i0 < i1
      if n0.take(2) == n1.take(2) || n0.takeRight(2) == n1.takeRight(2)
      if lev(n0, n1) <= 2
    } yield (i0, i1)
    // union-by-min with path compression: the root IS the component min
    val parent = scala.collection.mutable.Map(rows.map(r => r._1 -> r._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = rows.map(r => r._1 -> find(r._1)).toMap
    assert(got == want)
    assert(want.values.toSet.size < rows.size, "expected at least one merge")
  }

  test("soundex block keys match the NARA standard vectors") {
    import spark.implicits._
    import org.apache.spark.sql.functions.soundex
    // NARA "American Soundex" reference vectors (incl. the H/W-skip and
    // double-letter rules) — these gate the q_soundex_block block keys,
    // whose oracle replays only the pairing from the soundex_sig dump
    val vecs = Seq(
      "Robert" -> "R163", "Rupert" -> "R163",
      "Ashcraft" -> "A261", "Ashcroft" -> "A261",
      "Tymczak" -> "T522", "Pfister" -> "P236",
      "Honeyman" -> "H555", "Washington" -> "W252")
    val got = vecs.map(_._1).toDF("s")
      .select($"s".as[String], soundex($"s").as[String]).collect().toMap
    vecs.foreach { case (in, want) =>
      assert(got(in) == want, s"soundex($in) = ${got(in)}, want $want")
    }
  }

  test("damerauLevenshtein == 1509 committed DuckDB vectors (true DL)") {
    // fixtures/damerau_vectors.csv: DuckDB-generated random pairs over
    // small alphabets (transposition-dense) + the OSA-vs-DL separators
    // ("CA"/"ABC" = 2 under true DL, 3 under restricted OSA)
    val src = scala.io.Source.fromFile(s"$fixturesDir/damerau_vectors.csv")
    val lines = try src.getLines().drop(1).toVector finally src.close()
    assert(lines.size >= 1500)
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    lines.foreach { ln =>
      // alphabet is [a-zA-Z] only — plain split is safe
      val parts = ln.split(",", -1)
      val (a, b, want) = (parts(0), parts(1), parts(2).toInt)
      val got = graft.core.StringSim.damerauLevenshtein(u(a), u(b))
      assert(got == want, s"DL('$a','$b') = $got, want $want")
    }
    // and the codegen'd expression path agrees with the kernel
    import spark.implicits._
    val df = lines.take(200).map { ln =>
      val p = ln.split(",", -1); (p(0), p(1), p(2).toInt)
    }.toDF("a", "b", "want")
    val bad = df.where(
      graft.expr.damerauLevenshtein(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")) =!= $"want").count()
    assert(bad == 0L)
  }

  test("fuzzyJoinDL: transposition found at dist 1; subset relation to lev") {
    import spark.implicits._
    val q = Seq(("mathcing", "mathcing")).toDF("orig", "qname")
    val c = Seq("matching", "watching", "thatching").toDF("cand")
    val got = graft.link.Fuzzy.fuzzyJoinDL(q, "qname", c, "cand", maxDist = 1)
      .select($"cand".as[String], $"dist".as[Int]).collect().toMap
    // swap ("th"<->"ht") is 1 edit under DL; plain levenshtein says 2
    assert(got("matching") == 1)
    assert(!got.contains("thatching"))
    // DL <= levenshtein everywhere on the vector corpus
    val src = scala.io.Source.fromFile(s"$fixturesDir/damerau_vectors.csv")
    val lines = try src.getLines().drop(1).toVector finally src.close()
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    lines.take(500).foreach { ln =>
      val p = ln.split(",", -1)
      val dl = graft.core.StringSim.damerauLevenshtein(u(p(0)), u(p(1)))
      assert(dl <= lev(p(0), p(1)), s"DL > lev on ('${p(0)}','${p(1)}')")
    }
  }

  test("mongeElkanPairs: == brute force; tolerates token order and count") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val names = Seq(
      (1L, "john w smith"), (2L, "smith john"), (3L, "jon smyth"),
      (4L, "mary jane watson"), (5L, "watson mary"), (6L, "peter parker"),
      (7L, "pete parker"), (8L, "completely different"))
    val df = names.toDF("rid", "nm")
    val got = graft.link.Fuzzy.mongeElkanPairs(df, "rid",
        split(col("nm"), " "), lit("b"), threshold = 0.8)
      .select($"id0".as[Long], $"id1".as[Long], $"me".as[Double])
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    def r6(x: Double) =
      BigDecimal(x.toString).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def jw(a: String, b: String) = graft.core.StringSim.jaroWinkler(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))
    def dir(a: Array[String], b: Array[String]): Double =
      a.map(t => math.rint(b.map(u => jw(t, u)).max * 1e6)).sum / a.length
    val want = (for {
      (i, na) <- names; (j, nb) <- names if i < j
      ta = na.split(" "); tb = nb.split(" ")
      me = r6((dir(ta, tb) + dir(tb, ta)) / 2000000.0) if me >= 0.8
    } yield (i, j) -> me).toMap
    assert(got == want)
    // order/count-insensitive name match survives; unrelated pair doesn't
    assert(got.contains((1L, 2L)), "reordered name must match")
    assert(!got.keySet.exists(k => k._1 == 8L || k._2 == 8L))
  }

  test("softTfidfPairs == brute force; JW bridging rescues near tokens") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val names = Seq(
      (1L, "john smith zanzibar"), (2L, "jon smith zanzibar"), // bridged
      (3L, "mary watson qex"), (4L, "mary watson qex"),        // exact dup
      (5L, "peter parker aaa"), (6L, "unrelated words here"),
      (7L, "john smith qex"))
    val df = names.toDF("rid", "nm")
    val theta = 0.9
    val got = graft.link.Fuzzy.softTfidfPairs(df, "rid",
        split(col("nm"), " "), lit("b"), theta = theta, threshold = 0.2)
      .select($"id0".as[Long], $"id1".as[Long], $"soft_tfidf".as[Double])
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    // local brute force mirroring the packed-argmax contract
    def jw(a: String, b: String) = graft.core.StringSim.jaroWinkler(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))
    val n = names.size.toLong
    val tf = names.map { case (i, nm) =>
      i -> nm.split(" ").groupBy(identity).view.mapValues(_.length.toLong).toMap
    }.toMap
    val dfc = names.flatMap(_._2.split(" ").distinct)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def w(i: Long): Map[String, Long] =
      tf(i).map { case (t, f) => t -> f * (n * 1000L / dfc(t)) }
    def nrm(i: Long) = math.sqrt(w(i).values.map(x => x.toDouble * x).sum)
    def r6(x: Double) =
      BigDecimal(x.toString).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = (for {
      (i, _) <- names; (j, _) <- names if i < j
      wi = w(i); wj = w(j)
      s6 = wi.map { case (t, wa) =>
        val packed = wj.map { case (u, wb) =>
          math.round(jw(t, u) * 1000000) * 4294967296L + wb }.max
        val (j6, wb) = (packed >> 32, packed & 4294967295L)
        if (j6 >= 900000)
          math.round(j6.toDouble * wa * wb / 1000000.0)
        else 0L
      }.sum
      sc = r6(s6.toDouble / (nrm(i) * nrm(j))) if sc >= 0.2
    } yield (i, j) -> sc).toMap
    assert(got == want)
    assert(got.contains((1L, 2L)), "jon/john must bridge at theta 0.9")
    assert(got((3L, 4L)) == 1.0, "identical names must score 1")
    assert(!got.keySet.exists(k => k._1 == 6L || k._2 == 6L))
  }

  test("softTfidf sum6: a null token contributes 0 on either side") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def wl(ts: (String, Long)*) = new GenericArrayData(ts.map { case (t, w) =>
      InternalRow(if (t == null) null else UTF8String.fromString(t), w)
    }.toArray[Any])
    val sum6 = graft.core.SoftTfidf.sum6(_, _, 900000L)
    val a = wl("john" -> 700L, "smith" -> 500L)
    val b = wl("jon" -> 650L, "smith" -> 500L)
    val base = sum6(a, b)
    assert(base > 0)
    // a null a-token adds nothing; a null b-token never wins the argmax
    assert(sum6(wl("john" -> 700L, (null, 900L), "smith" -> 500L), b) == base)
    assert(sum6(a, wl((null, 4000L), "jon" -> 650L, "smith" -> 500L)) == base)
    assert(sum6(wl((null, 900L)), b) == 0L)
    assert(sum6(a, wl((null, 4000L))) == 0L)
    // same through the codegen'd expression over a DataFrame
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((Seq[(String, Long)](("john", 700L), (null, 900L), ("smith", 500L)),
        Seq[(String, Long)]((null, 4000L), ("jon", 650L), ("smith", 500L))))
      .toDF("a", "b")
      .select(transform($"a", x => struct(x("_1").as("t"), x("_2").as("w"))).as("wl0"),
        transform($"b", x => struct(x("_1").as("t"), x("_2").as("w"))).as("wl1"))
    assert(df.select(graft.expr.softTfidfSum6($"wl0", $"wl1", 900000L))
      .as[Long].head() == base)
  }

  test("selfScoreFrequency: rarity weights == brute force; nulls never agree") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 12 records, one block; nation freq varies (rare=1, common=6),
    // two null nations (must contribute nothing even to each other)
    val rows: Seq[(Long, Option[String], String)] = Seq(
      (1L, Some("NAURU"), "AUTO"), (2L, Some("NAURU"), "AUTO"),
      (3L, Some("CHINA"), "AUTO"), (4L, Some("CHINA"), "BIKE"),
      (5L, Some("CHINA"), "BIKE"), (6L, Some("CHINA"), "AUTO"),
      (7L, Some("CHINA"), "AUTO"), (8L, Some("CHINA"), "AUTO"),
      (9L, Some("PERU"), "BIKE"), (10L, None, "AUTO"),
      (11L, None, "AUTO"), (12L, Some("PERU"), "AUTO"))
    val df = rows.toDF("rid", "nat", "seg")
    val got = graft.link.FieldMatch.selfScoreFrequency(df, "rid", lit("b"),
        Seq("nat", "seg"), scale = 1000L, minScore = 1L)
      .select($"id0".as[Long], $"id1".as[Long], $"w_nat".as[Long],
        $"w_seg".as[Long]).collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    val n = rows.size.toLong
    val natFreq = rows.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val segFreq = rows.map(_._3).groupBy(identity).view.mapValues(_.size).toMap
    val want = (for {
      a <- rows; b <- rows if a._1 < b._1
      wn = if (a._2.isDefined && a._2 == b._2) n * 1000 / natFreq(a._2.get) else 0L
      ws = if (a._3 == b._3) n * 1000 / segFreq(a._3) else 0L
      if wn + ws >= 1
    } yield (a._1, b._1) -> (wn, ws)).toMap
    assert(got == want)
    // the rare-nation pair outscores any common-nation pair
    assert(got((1L, 2L))._1 == 6000L && got((3L, 6L))._1 == 2000L)
    // null-null pairs carry no nation weight
    assert(got.get((10L, 11L)).forall(_._1 == 0L))
  }

  test("tokenSortPairs: order-invariant, == brute force over boundary-token blocks") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lower
    val names = Seq(
      (1L, "john k smith"), (2L, "smith john k"), (3L, "SMITH K JOHN"),
      (4L, "jon k smith"), (5L, "maria del carmen"), (6L, "carmen del maria"),
      (7L, "maria de carmen"), (8L, "completely different person"),
      (9L, "k  john   smith")) // runs of whitespace collapse
      .toDF("id", "name")
    val q = names.select($"id".as("qid"), lower($"name").as("qname"))
    val c = names.select($"id".as("cid"), lower($"name").as("cname"))
    val got = Fuzzy.tokenSortPairs(q, "qname", c, "cname", minSim = 0.8)
      .where($"qid" < $"cid")
      .select($"qid".as[Long], $"cid".as[Long], $"token_sort_sim".as[Double])
      .collect().toSet
    // brute force: canonical = sorted tokens joined; blocks = first/last
    val rows = names.select($"id".as[Long], lower($"name").as[String]).collect()
    def canon(s: String) = s.trim.split("\\s+").sorted.mkString(" ")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (i, ni) <- rows.iterator; (j, nj) <- rows.iterator
      if i < j
      ci = canon(ni); cj = canon(nj)
      blocked = ci.split(" ").head == cj.split(" ").head ||
        ci.split(" ").last == cj.split(" ").last
      if blocked
      sim = math.rint((1.0 - lev(ci, cj).toDouble /
        math.max(ci.length, cj.length)) * 1e6) / 1e6
      if sim >= 0.8
    } yield (i, j, sim)).toSet
    assert(got == want)
    // pure reorderings (and whitespace runs) score exactly 1.0
    for (p <- Seq((1L, 2L), (1L, 3L), (1L, 9L), (5L, 6L)))
      assert(got.exists(t => (t._1, t._2) == p && t._3 == 1.0), s"missing $p")
    // near-typo reordering still matches high but below 1
    assert(got.exists(t => (t._1, t._2) == (2L, 4L) && t._3 < 1.0 && t._3 >= 0.9))
  }

  test("levenshteinBand == Spark built-in threshold levenshtein (fuzz)") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(0xba4d)
    val alphabets = Seq("ab", "abcde", "abcdefghij xyz", "αβγ ab¢")
    def randStr(alpha: String, maxLen: Int): String =
      Iterator.fill(rnd.nextInt(maxLen + 1))(
        alpha(rnd.nextInt(alpha.length))).mkString
    var checked = 0
    for (_ <- 1 to 4000) {
      val alpha = alphabets(rnd.nextInt(alphabets.length))
      val a = randStr(alpha, 12)
      val b = randStr(alpha, 12)
      val k = rnd.nextInt(7)
      val ua = UTF8String.fromString(a)
      val ub = UTF8String.fromString(b)
      val want = ua.levenshteinDistance(ub, k)
      val got = graft.core.StringSim.levenshteinBand(ua, ub, k)
      assert(got == want, s"a='$a' b='$b' k=$k: got $got want $want")
      checked += 1
    }
    // long-string + boundary shapes (band edges, equal strings, empties)
    for ((a, b, k) <- Seq(
        ("goldenrod lavender spring chocolate lace", "goldenrod lavender spring chocolate lace", 4),
        ("goldenrod lavender spring chocolate lace", "goldenrod lavendar sprung chocolate lace", 4),
        ("abcdefghijklmnopqrstuvwxyz", "abcdefghijklmnopqrstuvwxyz".reverse, 4),
        ("", "", 0), ("", "abc", 2), ("", "abc", 3), ("abcd", "", 4),
        ("aaaa", "aaaab", 0), ("aaaa", "aaaab", 1))) {
      val ua = UTF8String.fromString(a); val ub = UTF8String.fromString(b)
      assert(graft.core.StringSim.levenshteinBand(ua, ub, k)
        == ua.levenshteinDistance(ub, k), s"'$a' '$b' k=$k")
    }
    assert(checked == 4000)
  }
}
