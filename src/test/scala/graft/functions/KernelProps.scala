package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import graft.functions.EvalModes.{canon, frame, inBoth, Modes}
import graft.functions.expressions._

/** The eleven native kernels under `functions/expressions`, each pinned in
  * both evaluation modes ([[EvalModes]]): generated rows, with nulls,
  * empty values, multi-byte code points, rank and argmin ties and length
  * extremes, are evaluated interpreted and generated, and each mode must
  * equal a plain Scala model of the kernel row by row, bit for bit. */
object KernelProps extends Properties("kernels") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  // ---- generators ----

  /** Mostly `Some`, one in `1 + 1/nullRate` a null. */
  private def opt[T](g: Gen[T], nullRate: Int = 9): Gen[Option[T]] =
    Gen.frequency(1 -> Gen.const(None), nullRate -> g.map(Some(_)))

  /** One sample: 1 to 24 input rows. */
  private def rows[T](g: Gen[T]): Gen[List[T]] =
    Gen.choose(1, 24).flatMap(Gen.listOfN(_, g))

  /** Empty, short, or at the long extreme (`longLen` pieces). */
  private def text(palette: Seq[String], longLen: Int = 150): Gen[String] =
    Gen.frequency(
      1 -> Gen.const(Nil),
      8 -> Gen.choose(1, 14).flatMap(Gen.listOfN(_, Gen.oneOf(palette))),
      1 -> Gen.listOfN(longLen, Gen.oneOf(palette)))
      .map(_.mkString)

  /** Two- to four-byte code points: composed and decomposed accents, a
    * lone combining mark, CJK, a ligature, a surrogate pair, Hangul. */
  private val multiByte = Seq("\u00e9", "e\u0301", "\u00c5", "\u00df",
    "\u00f8", "\u03a9", "\u6f22", "\u5b57", "\ufb01", "\ud83d\ude00",
    "\u0308", "\uac00", "\uff71", "\u01c5")
  private val ascii = Seq("a", "b", "c", "e", "n", "r", "t", " ", "A", "!", "~")

  private val smallDouble: Gen[Double] = Gen.frequency(
    6 -> Gen.choose(-10.0, 10.0),
    2 -> Gen.oneOf(-1.0, 0.0, -0.0, 0.5, 1.0, 2.0),
    1 -> Gen.oneOf(1e300, -1e-300, Double.MinPositiveValue))

  private val smallLong: Gen[Long] = Gen.frequency(
    8 -> Gen.choose(-1000000L, 1000000L),
    1 -> Gen.oneOf(Long.MaxValue, Long.MinValue, 0L))

  /** A numeric vector as float or double elements: the row value and the
    * double each element widens to. */
  private def vector(dims: Gen[Int], values: Gen[Double], float: Boolean,
      nullRate: Int = 29): Gen[Option[Seq[Option[Double]]]] =
    opt(dims.flatMap(Gen.listOfN(_, opt(values.map(d =>
      if (float) d.toFloat.toDouble else d), nullRate))))

  private def elem(float: Boolean)(d: Option[Double]): Any =
    n(d.map(x => if (float) x.toFloat else x))

  /** An optional row value: the value, or null. */
  private def n(o: Option[Any]): Any = o.orNull

  private def arrayOf(t: DataType) = ArrayType(t, containsNull = true)

  private def schema(fields: (String, DataType)*) =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** Both modes' rows (single-column results unwrapped) against `want`. */
  private def check(df: => DataFrame, want: Seq[Any]): Prop = {
    val w = want.map(canon)
    Prop.all(inBoth(df).zip(Modes).map { case (got, mode) =>
      val g = got.map(r => canon(if (r.length == 1) r.get(0) else r))
      (g == w) :| s"$mode: got $g, want $w"
    }: _*)
  }

  private def bytes(s: String) = s.getBytes(UTF_8)

  // ---- kernels ----

  property("adc_distance") = {
    val in = for {
      m <- Gen.choose(0, 5); k <- Gen.choose(1, 4)
      code = Gen.frequency(8 -> Gen.choose(0, k - 1), 1 -> Gen.oneOf(-1, k))
      codes <- opt(Gen.listOfN(m, opt(code, 29)))
      mDt <- Gen.frequency(9 -> Gen.const(m), 1 -> Gen.choose(0, 6))
      kRow <- Gen.frequency(9 -> Gen.const(k), 1 -> Gen.choose(0, 5))
      dt <- opt(Gen.listOfN(mDt, opt(Gen.listOfN(kRow, opt(smallLong, 29)), 29)))
    } yield (codes, dt)
    def model(codes: Option[List[Option[Int]]],
        dt: Option[List[Option[List[Option[Long]]]]]): Any = (codes, dt) match {
      case (Some(c), Some(d)) if c.size == d.size =>
        val terms = c.zip(d).map {
          case (Some(ci), Some(row)) if ci >= 0 && ci < row.size => row(ci)
          case _ => None
        }
        if (terms.forall(_.isDefined)) terms.flatten.sum else null
      case _ => null
    }
    Prop.forAllNoShrink(rows(in)) { xs =>
      check(frame(xs.map { case (c, d) =>
          Row(n(c.map(_.map(n))), n(d.map(_.map(r => n(r.map(_.map(n)))))))
        }, schema("codes" -> arrayOf(IntegerType),
          "dt" -> arrayOf(arrayOf(LongType))))
        .select(AdcDistance.adcNative(col("codes"), col("dt"))),
        xs.map { case (c, d) => model(c, d) })
    }
  }

  property("byte_entropy") = {
    val skewed = Gen.oneOf(Seq[Byte](0, 1, -1, 'a'.toByte, 'b'.toByte, -128, 127))
    val in = opt(Gen.frequency(
      1 -> Gen.const(Array.emptyByteArray),
      6 -> Gen.choose(1, 40).flatMap(Gen.listOfN(_, skewed)).map(_.toArray),
      1 -> Gen.listOfN(3000, Gen.choose(Byte.MinValue, Byte.MaxValue))
        .map(_.toArray)))
    def model(b: Array[Byte]): Row = {
      val n = b.length.toLong
      val counts = b.groupBy(identity).values.map(_.length.toLong).toSeq
      Row(n, counts.size.toLong, counts.map(nc =>
        nc * PortableMath.log2MicroConst(n, nc) * 1000000L / (n * 1048576L)).sum)
    }
    Prop.forAllNoShrink(rows(in)) { xs =>
      check(frame(xs.map(b => Row(b.orNull)), schema("b" -> BinaryType))
        .select(ByteEntropy.byteEntropy(col("b"))),
        xs.map(_.map(model).orNull))
    }
  }

  property("char_sig and char_overlap_bound") = {
    val palette = ascii ++ multiByte ++ Seq("a" * 20, "aA!~")
    val in = Gen.zip(opt(text(palette)), opt(text(palette)))
    def sig(s: String): Array[Byte] = {
      val bs = bytes(s)
      Array.tabulate(64)(i => math.min(15, bs.count(b => (b & 63) == i)).toByte)
    }
    def bound(a: String, b: String): Int = {
      val (sa, sb) = (sig(a).map(_.toInt), sig(b).map(_.toInt))
      sa.zip(sb).map { case (x, y) => math.min(x, y) }.sum +
        (bytes(a).length - sa.sum) + (bytes(b).length - sb.sum)
    }
    Prop.forAllNoShrink(rows(in)) { xs =>
      check(frame(xs.map { case (a, b) => Row(a.orNull, b.orNull) },
          schema("a" -> StringType, "b" -> StringType))
        .select(CharSig.charSig(col("a")),
          CharSig.overlapBound(CharSig.charSig(col("a")),
            CharSig.charSig(col("b")), octet_length(col("a")).cast("int"),
            octet_length(col("b")).cast("int"))),
        xs.map { case (a, b) =>
          Seq(a.map(sig).orNull, n(for (x <- a; y <- b) yield bound(x, y)))
        })
    }
  }

  property("cosine_similarity") = {
    val in = for {
      fa <- Gen.oneOf(true, false); fb <- Gen.oneOf(true, false)
      len <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 6),
        1 -> Gen.const(300))
      pairs <- rows(Gen.zip(
        vector(Gen.const(len), smallDouble, fa),
        vector(Gen.frequency(9 -> Gen.const(len), 1 -> Gen.choose(0, 7)),
          smallDouble, fb)))
    } yield (fa, fb, pairs)
    def model(a: Option[Seq[Option[Double]]],
        b: Option[Seq[Option[Double]]]): Any = (a, b) match {
      case (Some(x), Some(y)) if x.size == y.size &&
          (x ++ y).forall(_.isDefined) =>
        var dot = 0.0; var na = 0.0; var nb = 0.0
        x.flatten.zip(y.flatten).foreach { case (p, q) =>
          dot += p * q; na += p * p; nb += q * q
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      case _ => null
    }
    Prop.forAllNoShrink(in) { case (fa, fb, xs) =>
      def t(f: Boolean) = arrayOf(if (f) FloatType else DoubleType)
      check(frame(xs.map { case (a, b) =>
          Row(n(a.map(_.map(elem(fa)))), n(b.map(_.map(elem(fb)))))
        }, schema("a" -> t(fa), "b" -> t(fb)))
        .select(CosineSimilarity.cosineNative(col("a"), col("b"))),
        xs.map { case (a, b) => model(a, b) })
    }
  }

  property("great_circle") = {
    val lat = Gen.frequency(6 -> Gen.choose(-90.0, 90.0),
      1 -> Gen.oneOf(-90.0, 0.0, -0.0, 90.0))
    val lon = Gen.frequency(6 -> Gen.choose(-180.0, 180.0),
      1 -> Gen.oneOf(-180.0, 0.0, 180.0))
    val point = Gen.zip(opt(lat, 29), opt(lon, 29))
    val in = for {
      units <- Gen.oneOf("nm", "km", "mi", "degrees")
      // a point against another point, itself, or its antipode
      pairs <- rows(point.flatMap { case p @ (la, lo) =>
        Gen.frequency(
          4 -> point,
          1 -> Gen.const(p),
          1 -> Gen.const((la.map(-_), lo.map(x => if (x > 0) x - 180 else x + 180)))
        ).map(q => (p, q))
      })
    } yield (units, pairs)
    def model(units: String, lat1: Double, lon1: Double, lat2: Double,
        lon2: Double): Double = {
      val rad = math.Pi / 180.0
      val (p1, p2, l1, l2) = (lat1 * rad, lat2 * rad, lon1 * rad, lon2 * rad)
      val deg = 2.0 * math.asin(math.sqrt(
        math.pow(math.sin((p1 - p2) / 2), 2) +
          math.cos(p1) * math.cos(p2) * math.pow(math.sin((l1 - l2) / 2), 2))) *
        (180.0 / math.Pi)
      units match {
        case "nm" => deg * 60.0
        case "km" => (deg * 60.0) * 1.852
        case "mi" => (deg * 60.0) * 1.15077945
        case "degrees" => deg
      }
    }
    Prop.forAllNoShrink(in) { case (units, xs) =>
      check(frame(xs.map { case ((a, b), (c, d)) => Row(n(a), n(b), n(c), n(d)) },
          schema("lat1" -> DoubleType, "lon1" -> DoubleType,
            "lat2" -> DoubleType, "lon2" -> DoubleType))
        .select(GreatCircleDistance.greatCircleNative(col("lat1"),
          col("lon1"), col("lat2"), col("lon2"), units)),
        xs.map { case ((a, b), (c, d)) =>
          n(for (w <- a; x <- b; y <- c; z <- d) yield model(units, w, x, y, z))
        })
    }
  }

  property("hyperplane_buckets") = {
    // coefficients and coordinates on a coarse grid: dot products of
    // exactly zero (a set bit) are frequent
    val grid = Gen.oneOf(-1.0, -0.5, 0.0, -0.0, 0.5, 1.0, 2.0)
    val in = for {
      tables <- Gen.choose(1, 3); bits <- Gen.choose(1, 6)
      dim <- Gen.choose(1, 4); float <- Gen.oneOf(true, false)
      planes <- Gen.listOfN(tables, Gen.listOfN(bits, Gen.listOfN(dim, grid)))
      vs <- rows(vector(Gen.frequency(9 -> Gen.const(dim),
        1 -> Gen.choose(0, dim + 1)), grid, float))
    } yield (planes, float, vs)
    def model(planes: List[List[List[Double]]], v: Seq[Option[Double]]): Any =
      if (v.size != planes.head.head.size || v.exists(_.isEmpty)) null
      else planes.map(_.zipWithIndex.map { case (plane, b) =>
        val dot = plane.zip(v.flatten).foldLeft(0.0) { case (s, (p, x)) => s + x * p }
        if (dot >= 0.0) 1L << b else 0L
      }.sum)
    Prop.forAllNoShrink(in) { case (planes, float, xs) =>
      check(frame(xs.map(v => Row(n(v.map(_.map(elem(float)))))),
          schema("v" -> arrayOf(if (float) FloatType else DoubleType)))
        .select(HyperplaneBuckets.bucketsNative(col("v"), planes)),
        xs.map(v => n(v.map(model(planes, _)))))
    }
  }

  property("jaro_winkler") = {
    // near-copies (one adjacent swap) make matches and transpositions
    val word = text(ascii ++ multiByte, longLen = 90)
    val pair = word.flatMap { w =>
      Gen.frequency(
        3 -> word,
        1 -> Gen.const(w),
        2 -> Gen.choose(0, math.max(0, w.length - 2)).map(i =>
          if (w.length < 2) w + "x"
          else w.substring(0, i) + w(i + 1) + w(i) + w.substring(i + 2)))
        .map(v => (w, v))
    }
    val in = pair.flatMap { case (a, b) =>
      Gen.zip(opt(Gen.const(a), 19), opt(Gen.const(b), 19))
    }
    def model(a: Array[Byte], b: Array[Byte]): Double = {
      if (a.isEmpty || b.isEmpty) return 0.0
      val w = math.max(0, math.max(a.length, b.length) / 2 - 1)
      val am = Array.fill(a.length)(false); val bm = Array.fill(b.length)(false)
      for (i <- a.indices) {
        (math.max(0, i - w) to math.min(b.length - 1, i + w))
          .find(j => !bm(j) && a(i) == b(j))
          .foreach { j => am(i) = true; bm(j) = true }
      }
      val m = am.count(identity)
      if (m == 0) return 0.0
      val t = a.indices.filter(am).map(a).zip(b.indices.filter(bm).map(b))
        .count { case (x, y) => x != y } / 2
      val jaro = (m.toDouble / a.length + m.toDouble / b.length +
        (m - t).toDouble / m) / 3.0
      if (jaro <= 0.7) jaro
      else {
        val l = a.zip(b).take(4).takeWhile { case (x, y) => x == y }.length
        jaro + l * 0.1 * (1.0 - jaro)
      }
    }
    Prop.forAllNoShrink(rows(in)) { xs =>
      check(frame(xs.map { case (a, b) => Row(a.orNull, b.orNull) },
          schema("a" -> StringType, "b" -> StringType))
        .select(JaroWinkler.jaroWinklerNative(col("a"), col("b"))),
        xs.map { case (a, b) =>
          n(for (x <- a; y <- b) yield model(bytes(x), bytes(y)))
        })
    }
  }

  property("langid_guess") = {
    val profiles = Text.langProfilesRanked.sortBy(_._1)
    // profile trigrams make matched ranks; other pieces make unmatched
    // trigrams, whose distance ties across languages of one profile size
    val palette = profiles.flatMap(_._2).distinct ++ multiByte ++ ascii
    val in = opt(Gen.frequency(
      1 -> Gen.oneOf("", "ab", "\u00e9\u6f22", "\ud83d\ude00a"),
      8 -> text(palette, longLen = 80)))
    def compareBytes(a: String, b: String) =
      java.util.Arrays.compareUnsigned(bytes(a), bytes(b))
    def model(s: String): Any = {
      val cps = s.codePoints.toArray.map(cp => new String(Character.toChars(cp)))
      if (cps.length < 3) null
      else {
        val ranked = cps.sliding(3).map(_.mkString).toSeq
          .groupBy(identity).toSeq.map { case (t, ts) => (t, ts.size) }
          .sortWith { case ((ta, ca), (tb, cb)) =>
            if (ca != cb) ca > cb else compareBytes(ta, tb) < 0
          }.map(_._1)
        profiles.map { case (lang, prof) =>
          val rankOf = prof.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap
          val matched = ranked.zipWithIndex.flatMap { case (t, r) =>
            rankOf.get(t).map(rp => math.abs(r + 1L - rp))
          }
          (matched.sum + (ranked.size - matched.size).toLong * prof.size, lang)
        }.minBy(_._1)._2 // the first minimum: ties go to the smallest name
      }
    }
    Prop.forAllNoShrink(rows(in)) { xs =>
      check(frame(xs.map(s => Row(s.orNull)), schema("s" -> StringType))
        .select(LangIdGuess.langIdGuess(col("s"))),
        xs.map(s => n(s.map(model))))
    }
  }

  property("matvec") = {
    val in = for {
      out <- Gen.choose(1, 4); dim <- Gen.choose(1, 5)
      matrix <- Gen.listOfN(out, Gen.listOfN(dim, Gen.choose(-2.0, 2.0)))
      scale <- Gen.oneOf(1.0, 3.0, 0.5, 1e-3, -2.0, 7.0)
      float <- Gen.oneOf(true, false)
      vs <- rows(vector(Gen.frequency(9 -> Gen.const(dim),
        1 -> Gen.choose(0, dim + 1)), smallDouble, float))
    } yield (matrix, scale, float, vs)
    def model(matrix: List[List[Double]], scale: Double,
        v: Seq[Option[Double]]): Any =
      if (v.size != matrix.head.size || v.exists(_.isEmpty)) null
      else matrix.map(row =>
        row.zip(v.flatten).foldLeft(0.0) { case (s, (m, x)) => s + x * m } / scale)
    Prop.forAllNoShrink(in) { case (matrix, scale, float, xs) =>
      check(frame(xs.map(v => Row(n(v.map(_.map(elem(float)))))),
          schema("v" -> arrayOf(if (float) FloatType else DoubleType)))
        .select(MatVec.matVecNative(col("v"),
          matrix.map(_.toArray).toArray, scale)),
        xs.map(v => n(v.map(model(matrix, scale, _)))))
    }
  }

  property("pq_encode") = {
    // each book draws its k codewords from two: repeated codewords make
    // argmin ties
    val in = for {
      m <- Gen.choose(1, 3); k <- Gen.choose(1, 5); sub <- Gen.choose(1, 3)
      books <- Gen.listOfN(m, Gen.listOfN(2, Gen.listOfN(sub,
        Gen.choose(-2L, 2L))).flatMap(two => Gen.listOfN(k, Gen.oneOf(two))))
      // width m * sub, or one short
      vs <- rows(opt(Gen.listOfN(m * sub, opt(Gen.choose(-3L, 3L), 29))
        .flatMap(v => Gen.frequency(9 -> Gen.const(v), 1 -> Gen.const(v.drop(1))))))
    } yield (books, vs)
    def model(books: List[List[List[Long]]], v: Seq[Option[Long]]): Any = {
      val sub = books.head.head.size
      if (v.size != books.size * sub || v.exists(_.isEmpty)) null
      else books.zipWithIndex.map { case (book, s) =>
        val x = v.flatten.slice(s * sub, (s + 1) * sub)
        book.indices.minBy(c => book(c).zip(x)
          .map { case (p, q) => (q - p) * (q - p) }.sum)
      }
    }
    Prop.forAllNoShrink(in) { case (books, xs) =>
      check(frame(xs.map(v => Row(n(v.map(_.map(n))))),
          schema("v" -> arrayOf(LongType)))
        .select(PqEncode.encodeNative(col("v"),
          books.map(_.map(_.toArray).toArray).toArray)),
        xs.map(v => n(v.map(model(books, _)))))
    }
  }

  property("unicode_normalize and strip_accents") = {
    // more canonical and compatibility pairs: combining acute and cedilla,
    // a DZ digraph, the ff ligature, conjoining jamo, Greek tonos, a
    // superscript
    val palette = ascii ++ multiByte ++ Seq("\u0301", "\u0327", "\u01c4",
      "\ufb00", "\u1100\u1161", "\u0386", "\u00b2")
    val in = opt(text(palette))
    val marks = java.util.regex.Pattern.compile("\\p{Mn}+")
    def norm(s: String, form: String) = java.text.Normalizer.normalize(s,
      java.text.Normalizer.Form.valueOf(form))
    Prop.forAllNoShrink(rows(in)) { xs =>
      check(frame(xs.map(s => Row(s.orNull)), schema("s" -> StringType))
        .select(UnicodeNormalize.normalize(col("s"), "NFC"),
          UnicodeNormalize.normalize(col("s"), "NFD"),
          UnicodeNormalize.normalize(col("s"), "NFKC"),
          UnicodeNormalize.normalize(col("s"), "NFKD"),
          UnicodeNormalize.stripAccents(col("s"))),
        xs.map(s => Seq("NFC", "NFD", "NFKC", "NFKD").map(f =>
          s.map(norm(_, f)).orNull) :+
          s.map(x => marks.matcher(norm(x, "NFD")).replaceAll("")).orNull))
    }
  }
}
