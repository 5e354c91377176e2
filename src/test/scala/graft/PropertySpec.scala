package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._
import graft.functions.{Geo, PolyHash, Scalars, Vectors}

/** Property-based coverage (SURVEY.md §5.3): algebraic laws of the scalar
  * surface, geometry containment, calendar generation, hash portability,
  * and the native expressions against their spec formulations.
  */
class PropertySpec extends SparkSpec {
  import graft.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(200)
  private def check(p: Prop): Unit = assert(SCTest.check(params, p).passed)

  test("GRIB2 codec: random fields round-trip exactly (values, georef, masks)") {
    val rnd = new scala.util.Random(17)
    for (_ <- 1 to 25) {
      val ni = 2 + rnd.nextInt(20); val nj = 2 + rnd.nextInt(12)
      val dScale = rnd.nextInt(3) - 1
      val masked = rnd.nextBoolean()
      val f = graft.sources.Grib2.Field(0, rnd.nextInt(4), rnd.nextInt(8),
        java.time.LocalDateTime.of(2000 + rnd.nextInt(30), 1 + rnd.nextInt(12),
          1 + rnd.nextInt(28), rnd.nextInt(24), 0),
        ni, nj,
        la1Micro = (rnd.nextInt(170) - 85) * 1000000L,
        lo1Micro = (rnd.nextInt(340) - 170) * 1000000L,
        diMicro = (1 + rnd.nextInt(4)) * 250000L,
        djMicro = (1 + rnd.nextInt(4)) * 250000L,
        decimalScale = dScale,
        scaled = Array.tabulate(ni * nj)(k =>
          if (masked && rnd.nextInt(5) == 0) None
          else Some(rnd.nextInt(100000))),
        scanMode = if (rnd.nextBoolean()) 0x40 else 0x00)
      val recs = graft.sources.Grib2.parseMessages(graft.sources.Grib2.encodeMessage(f))
      recs should have length 1
      val r = recs.head
      (r.ni, r.nj, r.la1Micro, r.lo1Micro) shouldBe ((f.ni, f.nj, f.la1Micro, f.lo1Micro))
      val tenD = math.pow(10.0, dScale)
      for (k <- 0 until ni * nj) f.scaled(k) match {
        case Some(x) =>
          // simple packing with E=0 and an exactly-representable integer
          // reference: R + X == x in double, so decode is exactly x/10^D
          r.values(k) shouldBe x / tenD
        case None => r.values(k).isNaN shouldBe true
      }
    }
  }

  test("asset codecs: random PNG/BMP/WAV round-trip exact dims and content sums") {
    val rnd = new scala.util.Random(23)
    for (_ <- 1 to 30) {
      val w = 1 + rnd.nextInt(40); val h = 1 + rnd.nextInt(30)
      val seed = rnd.nextInt(1 << 20)
      val pix = (x: Int, y: Int) => (x * 31 + y * 57 + seed) % 256
      val png = graft.sources.AssetCodecs.decodePng(
        graft.sources.AssetCodecs.encodePng(w, h, pix))
      png.valueSum shouldBe (0 until h).flatMap(y => (0 until w).map(x => pix(x, y).toLong)).sum
      val bmp = graft.sources.AssetCodecs.decodeBmp(
        graft.sources.AssetCodecs.encodeBmp(w, h, pix))
      bmp.valueSum shouldBe 3 * (0 until h).flatMap(y => (0 until w).map(x => pix(x, y).toLong)).sum
      val n = 1 + rnd.nextInt(500)
      val samples = Array.fill(n)((rnd.nextInt(65536) - 32768).toShort)
      val wav = graft.sources.AssetCodecs.decodeWav(
        graft.sources.AssetCodecs.encodeWav(8000, samples))
      wav.valueSum shouldBe samples.map(_.toLong).sum
      wav.nUnits shouldBe n.toLong
    }
  }

  test("damerau_levenshtein: metric laws + recursive reference on small strings") {
    import graft.functions.DamerauLevenshtein.{distance => dl}
    def d(a: String, b: String) = dl(a.codePoints().toArray, b.codePoints().toArray)
    val rnd = new scala.util.Random(31)
    def randStr(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    // independent exponential-time reference for the UNRESTRICTED variant:
    // edit the last position or transpose-then-recurse (Lowrance-Wagner
    // admits edits between transposed chars, captured by the k/l scan)
    def ref(a: String, b: String): Int = {
      val memo = scala.collection.mutable.Map.empty[(String, String), Int]
      def go(x: String, y: String): Int = memo.getOrElseUpdate((x, y), {
        if (x.isEmpty) y.length
        else if (y.isEmpty) x.length
        else {
          var best = go(x.init, y.init) + (if (x.last == y.last) 0 else 1)
          best = best.min(go(x.init, y) + 1).min(go(x, y.init) + 1)
          // transposition: x = ...b?a, y = ...a?b — match x's last to the
          // previous occurrence of it in y and vice versa
          val i = x.init.lastIndexOf(y.last)
          val j = y.init.lastIndexOf(x.last)
          if (i >= 0 && j >= 0)
            best = best.min(go(x.take(i), y.take(j)) +
              (x.length - i - 2) + (y.length - j - 2) + 1)
          best
        }
      })
      go(a, b)
    }
    for (_ <- 1 to 120) {
      val a = randStr(rnd.nextInt(7)); val b = randStr(rnd.nextInt(7))
      val got = d(a, b)
      got shouldBe ref(a, b).toLong
      got shouldBe d(b, a) // symmetry
      if (a == b) got shouldBe 0L
    }
    // triangle inequality on random triples
    for (_ <- 1 to 40) {
      val (a, b, c) = (randStr(5), randStr(5), randStr(5))
      d(a, c) should be <= d(a, b) + d(b, c)
    }
  }

  test("clamp: bounded, idempotent, identity inside bounds (math.js:2-5)") {
    def clamp(x: Double, lo: Double, hi: Double) = math.max(math.min(x, hi), lo)
    check(Prop.forAll(Gen.chooseNum(-1e6, 1e6), Gen.chooseNum(-1e3, 1e3), Gen.posNum[Double]) {
      (x: Double, lo: Double, w: Double) =>
        val hi = lo + w
        val c = clamp(x, lo, hi)
        c >= lo && c <= hi && clamp(c, lo, hi) == c &&
          (x < lo || x > hi || c == x)
    })
  }

  test("pmod with offset: result in [offset, offset+m), congruent mod m (math.js:7-9)") {
    check(Prop.forAll(Gen.chooseNum(-100000L, 100000L), Gen.chooseNum(1L, 1000L),
                      Gen.chooseNum(-500L, 500L)) { (x: Long, m: Long, off: Long) =>
      val r = Math.floorMod(x - off, m) + off
      r >= off && r < off + m && Math.floorMod(r - x, m) == 0
    })
  }

  test("OSCAR calendar: 72 strictly-increasing dates/year, gaps in {5,6} (oscar.js:27-34)") {
    val rows = SparkEntry.queries("q18_oscar_calendar")(spark, sf0001)
      .select($"y", $"i", to_date($"oscar_date").as("d")).collect()
    val byYear = rows.groupBy(_.getLong(0))
    byYear.foreach { case (_, rs) =>
      rs.length shouldBe 72
      val ds = rs.sortBy(_.getLong(1)).map(_.getDate(2).toLocalDate)
      ds.zip(ds.tail).foreach { case (a, b) =>
        val gap = java.time.temporal.ChronoUnit.DAYS.between(a, b)
        assert(gap == 5 || gap == 6, s"gap $gap between $a and $b")
      }
      ds.head shouldBe java.time.LocalDate.of(ds.head.getYear, 1, 1)
    }
  }

  test("polygon containment implies bbox containment (P3 subset of P2)") {
    val tri = Geo.testTriangle
    val lons = tri.map(_._1); val lats = tri.map(_._2)
    check(Prop.forAll(Gen.chooseNum(-0.1, 0.2), Gen.chooseNum(-0.1, 0.2)) {
      (x: Double, y: Double) =>
        !Geo.contains(tri)(x, y) ||
          (x >= lons.min && x <= lons.max && y >= lats.min && y <= lats.max)
    })
  }

  test("GeoContains kernel equals Geo.containsMulti on random rings and points") {
    import graft.functions.GeoContains
    val coord = Gen.chooseNum(-50.0, 50.0)
    // small integer coordinates repeat, which makes horizontal edges and
    // queries on a vertex latitude common
    val lattice = Gen.chooseNum(-4, 4).map(_.toDouble)
    val either = Gen.oneOf(coord, lattice)
    val ringGen: Gen[Geo.Ring] = for {
      n <- Gen.chooseNum(3, 12)
      pts <- Gen.listOfN(n, Gen.zip(either, either))
    } yield (pts :+ pts.head).toArray
    // every vertex on one latitude: a zero-height ring set has no edge
    val flatRing: Gen[Geo.Ring] = for {
      y <- either
      xs <- Gen.listOfN(4, coord)
    } yield (xs :+ xs.head).map((_, y)).toArray
    val ringSet = Gen.frequency(
      6 -> Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, ringGen)),
      1 -> Gen.listOfN(2, flatRing))
    val special = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    check(Prop.forAll(ringSet, Gen.listOfN(6, coord)) {
      (rings: List[Geo.Ring], extra: List[Double]) =>
        val index = GeoContains.index(rings)
        val lats = rings.flatMap(_.map(_._2)) ++ index.bandBoundaries.flatMap(y =>
          Seq(Math.nextDown(y), y, Math.nextUp(y))) ++ special ++ extra
        val lons = rings.flatMap(_.map(_._1)) ++ special ++ extra
        lats.forall(lat => lons.forall(lon =>
          index.contains(lon, lat) == Geo.containsMulti(rings)(lon, lat)))
    })
  }

  test("thresholdHex is monotone in the fraction and anchors 0 / 1 exactly") {
    import graft.operators.Sampling.thresholdHex
    check(Prop.forAll(Gen.chooseNum(0.0, 1.0), Gen.chooseNum(0.0, 1.0)) {
      (a: Double, b: Double) =>
        val (lo, hi) = if (a <= b) (a, b) else (b, a)
        thresholdHex(lo) <= thresholdHex(hi) // hex strings order like the values
    })
    assert(thresholdHex(0.0) == "0" * 32 && thresholdHex(1.0) == "f" * 32)
  }

  test("poly_hash: expression equals kernel equals charwise spec; empty string is 0") {
    PolyHash.hash("", 31) shouldBe 0L
    val gen = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('é', 'ß', '中', ' ', '\t')))
      .map(_.mkString)
    check(Prop.forAll(gen) { s: String =>
      val spec = s.codePoints().toArray.foldLeft(0L)((a, cp) => (a * 31 + cp) % PolyHash.P)
      PolyHash.hash(s, 31) == spec
    })
    // expression path (codegen) agrees with the kernel on fixture text
    val df = table("documents").limit(64)
      .select($"text", PolyHash($"text").as("h")).collect()
    df.foreach(r => r.getLong(1) shouldBe PolyHash.hash(r.getString(0), 31))
  }

  test("vec_dot: native expression equals the higher-order-function spec") {
    val gen = Gen.listOfN(16, Gen.chooseNum(-10.0, 10.0))
    val vecs = Gen.listOfN(40, Gen.zip(gen, gen)).sample.get
    val df = spark.createDataFrame(vecs).toDF("a", "b")
    val cmp = df.select(
      Vectors.dot(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), _ * _), lit(0.0), _ + _).as("hof")).collect()
    cmp.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("add_months clamps to end of month like temporal.js:56-83") {
    val cases = Seq(
      ("2023-01-31", 1, "2023-02-28"), ("2024-01-31", 1, "2024-02-29"),
      ("2023-03-31", 1, "2023-04-30"), ("2023-01-15", 12, "2024-01-15"),
      ("2023-11-30", 3, "2024-02-29"))
    cases.foreach { case (d, m, want) =>
      val r = spark.sql(s"SELECT CAST(add_months(DATE'$d', $m) AS STRING)").head().getString(0)
      r shouldBe want
    }
  }

  test("randlon/randlat: in-range and seed-deterministic (math.js:12-19)") {
    val df = spark.range(1000).select(
      Scalars.randLon(7).as("lon"), Scalars.randLat(11).as("lat"))
    df.where($"lon" < -180 || $"lon" > 180 || $"lat" < -90 || $"lat" > 90)
      .count() shouldBe 0
    val a = df.collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val b = spark.range(1000).select(
      Scalars.randLon(7).as("lon"), Scalars.randLat(11).as("lat"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    a.toSeq shouldBe b.toSeq
  }

  test("byteranges: reassembly inverts multipart framing for arbitrary ASCII parts") {
    val partGen = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(' '))).map(_.mkString)
    check(Prop.forAll(Gen.listOfN(3, partGen)) { parts: List[String] =>
      val boundary = "GRAFTSEP"
      val body = new StringBuilder
      parts.foreach { p =>
        body.append(s"--$boundary\r\nContent-Range: bytes x\r\n\r\n").append(p).append("\r\n")
      }
      body.append(s"--$boundary--\r\n")
      val got = new String(control.Byteranges.reassemble(
        body.toString.getBytes("ISO-8859-1"), boundary), "ISO-8859-1")
      got == parts.mkString
    })
  }

  test("round-7 order-statistic family is partition-count independent") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rows = (1 to 500).map(i => (s"g${i % 3}", (i * 37 % 101).toLong))
      .toDF("g", "v")
    def runs(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val a = f(rows.repartition(2)).collect().toSeq
      val b = f(rows.repartition(17)).collect().toSeq
      a shouldBe b
    }
    runs(df => operators.Core.weightedMedian(df, "g", col("v"), col("v") + 1))
    runs(df => operators.Core.winsorizedSum(df, "g", col("v")))
    runs(df => operators.Core.modeTop1(df, "g", "v"))
    runs(df => operators.Core.madOutliers(df, "g", col("v")))
  }

  test("mergeIntervals is idempotent: merging the merged islands is the identity") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rows = (1 to 300).map { i =>
      val s = (i * 97 % 1000).toLong
      ("k" + i % 5, i.toLong, s, s + 1 + (i * 13 % 50))
    }.toDF("k", "id", "s", "e")
    val once = operators.Temporal.mergeIntervals(rows, "k", "id", col("s"), col("e"))
    val again = operators.Temporal.mergeIntervals(
      once.select(col("key").as("k"), col("island").as("id"),
        col("island_start_us").as("s"), col("island_end_us").as("e")),
      "k", "id", col("s"), col("e"))
    // island ids renumber, but the (key, start, end, span) sets must match
    val a = once.select("key", "island_start_us", "island_end_us", "span_us")
      .collect().toSet
    val b = again.select("key", "island_start_us", "island_end_us", "span_us")
      .collect().toSet
    a shouldBe b
    again.agg(org.apache.spark.sql.functions.sum(col("n_intervals")))
      .head().getLong(0) shouldBe once.count()
  }

  test("kmeansAssignExact is partition-count independent") {
    val emb = table("embeddings")
    val a = operators.Similarity.kmeansAssignExact(emb.repartition(3), 4, 2).collect().toSeq
    val b = operators.Similarity.kmeansAssignExact(emb.repartition(13), 4, 2).collect().toSeq
    a shouldBe b
  }

  test("GIF LZW: random images of every entropy shape round-trip exactly") {
    // mixes constant runs (KwKwK-heavy), small alphabets (deep dictionary
    // chains), and full-range noise (width growth + table-full resets)
    val rnd = new scala.util.Random(91)
    for (trial <- 1 to 40) {
      val w = 1 + rnd.nextInt(90); val h = 1 + rnd.nextInt(60)
      val alphabet = trial % 4 match {
        case 0 => 1
        case 1 => 2 + rnd.nextInt(3)
        case 2 => 17
        case _ => 256
      }
      val img = Array.fill(w * h)(rnd.nextInt(alphabet))
      val (dw, dh, _, idx) = graft.sources.AssetCodecs.decodeGifImage(
        graft.sources.AssetCodecs.encodeGif(w, h, (x, y) => img(y * w + x)))
      (dw, dh) shouldBe ((w, h))
      idx.map(_ & 0xff).toSeq shouldBe img.toSeq
    }
  }

  test("soundexKey agrees with an independent straight-line implementation") {
    // reference implementation written directly from the variant's prose
    // spec — not shared column algebra, so a transcription slip in either
    // side surfaces
    def ref(s: String): String = {
      val letters = s.toLowerCase.filter(c => c >= 'a' && c <= 'z')
      if (letters.isEmpty) "000"
      else {
        val code = "01230120022455012623010202"
        val digits = letters.map(c => code(c - 'a')).toList
        val collapsed = digits.head +: digits.sliding(2).collect {
          case a :: b :: Nil if a != b => b
        }.toSeq
        val tail = collapsed.drop(1).filter(_ != '0').take(3).mkString
        letters.head.toUpper.toString + tail.padTo(3, '0')
      }
    }
    import spark.implicits.{localSeqToDatasetHolder, newStringEncoder}
    val wordGen = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(9 -> Gen.alphaChar, 1 -> Gen.numChar)).map(_.mkString))
    check(Prop.forAll(Gen.listOfN(30, wordGen)) { words =>
      val got = words.toDF("w")
        .select($"w", operators.Entity.soundexKey($"w").as("k"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      words.forall(w => got(w) == ref(w))
    })
  }
}
