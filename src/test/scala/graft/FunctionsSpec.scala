package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{ArrayDot, BandKeysFn, BandKeysImpl, MinHashImpl, MinHashSigFn,
  SetJaccardFn, ShingleSetFn, ShingleSetImpl}
import graft.ops.Dedup

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Reference MinHash: one `substring` per window (walks from byte 0 each
    * time, so quadratic), kept here only to pin the kernel's output.
    */
  private def substringSig(s: UTF8String, k: Int, n: Int): Seq[Long] = {
    val len = s.numChars()
    val out = Array.fill(n)(Long.MaxValue)
    (0 until math.max(len - k + 1, 1)).foreach { w =>
      val win = s.substring(w, math.min(w + k, len))
      val h1 = XXH64.hashUnsafeBytes(win.getBaseObject, win.getBaseOffset, win.numBytes, 42L)
      val h2 = XXH64.hashUnsafeBytes(win.getBaseObject, win.getBaseOffset, win.numBytes, 7L)
      (0 until n).foreach(i => out(i) = math.min(out(i), h1 + i * h2))
    }
    out.toSeq
  }

  /** Reference shingle set: the Column formulation the kernel replaced. */
  private def substrShingles(text: Column, k: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => text.substr(i, lit(k))))

  /** Reference band table: the column formulation `band_keys` replaced —
    * one struct of `xxhash64` over `rows` `element_at`s per band, exploded.
    */
  private def xxhashBandTable(sigs: DataFrame, rows: Int, bands: Int): DataFrame = {
    val bandStructs = (0 until bands).map { j =>
      val slice = (0 until rows).map(r => element_at(col("sig"), j * rows + r + 1))
      struct(lit(j).as("band"), xxhash64(slice: _*).as("bsig"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bsig").as("bsig"))
  }

  /** `body` with whole-stage codegen on and generated projections only, or
    * with both off (every expression evaluated by `eval`).
    */
  private def withCodegen[T](on: Boolean)(body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), on.toString)
    spark.conf.set(keys(1), if (on) "CODEGEN_ONLY" else "NO_CODEGEN")
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Texts covering the window edge cases plus ~200 generated documents
    * mixing 1- to 4-byte UTF-8 characters and repeated words.
    */
  private lazy val windowTexts: Seq[String] = {
    val fixed = Seq("the quick brown fox jumps over the lazy dog",
      "", "a", "abcd", "abcde", "abcdef",
      "é", "éèêëà", "ñandú ñandú ñandú", "€€€€", "a€b€c€d€", "𝄞", "𝄞😀𝄞😀𝄞😀",
      "mixed ascii é € 😀 text", "aaaaaaaaaaaa", "abcabcabcabcabc", "ab" * 40)
    val rng = new scala.util.Random(17)
    val pool = "abcde fghij".map(_.toString) ++ Seq("é", "ß", "€", "中", "😀", "𝄞")
    val words = Seq("lorem", "ipsum", "dolor", "ünïcode", "数据", "🙂🙃")
    val generated = (0 until 200).map { i =>
      val n = rng.nextInt(120)
      if (i % 2 == 0) Seq.fill(n)(pool(rng.nextInt(pool.size))).mkString
      else Seq.fill(n / 4)(words(rng.nextInt(words.size))).mkString(" ")
    }
    fixed ++ generated
  }

  test("array_dot matches the HOF formulation and handles nulls") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.5, -1.5), Seq(2.0, 2.0))).toDF("a", "b")
    val got = df.select(ArrayDot.dot(col("a"), col("b")).as("d")).collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(32.0, -2.0))
    val withNull = df.limit(1).select(ArrayDot.dot(lit(null).cast("array<double>"), col("b")))
    assert(withNull.head().isNullAt(0))
  }

  test("GraftExtensions registers the functions for SQL users") {
    // TestSpark sets spark.sql.extensions=graft.GraftExtensions — the
    // standard production config path
    val dot = spark.sql("SELECT array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(dot == 11.0)
    val sig = spark.sql("SELECT minhash_sig('hello world hello', 5, 16) AS s")
      .head().getSeq[Long](0)
    assert(sig.length == 16)
  }

  test("simhash64 matches an independent hex-digit derivation") {
    import spark.implicits._
    // recompute via the hex-string digit formula (the DuckDB oracle's
    // path), independent of the expression's byte-wise loop
    def expected(text: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val counts = new Array[Int](64)
      // SQL trim semantics: strip spaces only (tabs/newlines stay, exactly
      // as the DuckDB oracle's trim() leaves them for the tokenizer)
      val trimmed = text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      trimmed.split("\\s+", -1).foreach { tok =>
        md.reset()
        val hx = md.digest(tok.getBytes("UTF-8"))
          .map(b => f"${b & 0xFF}%02x").mkString
        (0 until 64).foreach { k =>
          val digit = Integer.parseInt(hx.charAt(15 - k / 4).toString, 16)
          if (((digit >> (k % 4)) & 1) == 1) counts(k) += 1 else counts(k) -= 1
        }
      }
      (0 until 64).foldLeft(0L)((acc, k) =>
        if (counts(k) > 0) acc | (1L << k) else acc)
    }
    val texts = Seq("the quick brown fox", "a a a b", "", "  spaced   out  ",
      "unicode tökens über ällés",
      // leading/trailing NON-SPACE whitespace: SQL trim leaves it, so the
      // tokenizer sees a leading/trailing empty token — the kernel must too
      "\tleading tab", "trailing newline\n", " \n mixed \t ")
    val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"), graft.functions.SimHash64Fn.simhash64(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == expected(t), s"mismatch on '$t'")
    }
    // SQL registration
    val viaSql = spark.sql("SELECT simhash64('the quick brown fox') AS s")
      .head().getLong(0)
    assert(viaSql == expected("the quick brown fox"))
  }

  test("minhash_sig: identical strings share signatures, estimate tracks jaccard") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val near = base.replace("quick", "quack")
    val far = "completely different content with no shared five grams at all " * 6
    val df = Seq((0L, base), (1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val sigs = df.select(col("doc_id"),
        MinHashSigFn.minhashSig(col("text"), 5, 126).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(0L) == sigs(1L))
    def est(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.length
    assert(est(sigs(0L), sigs(2L)) > 0.5, "near-dup estimate too low")
    assert(est(sigs(0L), sigs(3L)) < 0.3, "unrelated estimate too high")
    // signature length and short-string handling
    val short = Seq((0L, "ab")).toDF("doc_id", "text")
      .select(MinHashSigFn.minhashSig(col("text"), 5, 126)).head().getSeq[Long](0)
    assert(short.length == 126)
  }

  test("repetition_stats: hand-computed counters and SQL registration") {
    import spark.implicits._
    val df = Seq(
      (0L, "a a a b"),           // top word a×3; 2-grams: "a a"×2, "a b"; no dup 3-gram
      (1L, "x y z x y z"),       // 3-grams: "x y z"×2 of 4 → dup3 = 2
      (2L, "w"),                 // single word: 0 2-grams, 0 3-grams
      (3L, "  p  q  "))          // SQL-trim + multi-space split → p q
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        graft.functions.RepetitionStatsFn.repetitionStats(col("text")).as("r"))
      .select(col("doc_id"), col("r.n_words"), col("r.top_word_n"),
        col("r.top_2gram_n"), col("r.dup_3gram_n"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(0L) == ((4L, 3L, 2L, 0L)))
    assert(got(1L) == ((6L, 2L, 2L, 2L)))
    assert(got(2L) == ((1L, 1L, 0L, 0L)))
    assert(got(3L) == ((2L, 1L, 1L, 0L)))
    val viaSql = spark.sql(
      "SELECT repetition_stats('a a a b').top_word_n AS t").head().getLong(0)
    assert(viaSql == 3L)
  }

  test("repetition_stats matches an explode+groupBy formulation on real docs") {
    // independent derivation: corpus-gram shuffle version of the same
    // counters over the sf0.001 documents (the kernel exists precisely to
    // avoid this plan; here it serves as the cross-check)
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val toks = split(trim(col("text")), "\\s+")
    def gram(n: Int) = when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
    def counts(n: Int) = docs.select(col("doc_id"), explode(gram(n)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val expTop = counts(1).groupBy("doc_id").agg(max(col("c")).as("top_word_n"))
    val expTop2 = counts(2).groupBy("doc_id").agg(max(col("c")).as("top_2gram_n"))
    val expDup3 = counts(3).groupBy("doc_id")
      .agg(sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup_3gram_n"))
    val expected = expTop.join(expTop2, Seq("doc_id"), "left")
      .join(expDup3, Seq("doc_id"), "left")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val got = docs.select(col("doc_id"),
        graft.functions.RepetitionStatsFn.repetitionStats(col("text")).as("r"))
      .collect().map { r =>
        val s = r.getStruct(1)
        r.getLong(0) -> ((s.getLong(1), s.getLong(2), s.getLong(3)))
      }.toMap
    assert(got.size == expected.size && got.nonEmpty)
    expected.foreach { case (id, e) =>
      assert(got(id) == e, s"doc $id: kernel ${got(id)} != explode $e")
    }
  }

  test("minhash_sig and shingle_set match their substring references on multi-byte text") {
    import spark.implicits._
    val df = windowTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    Seq(1, 3, 5).foreach { k =>
      val rows = df.select(col("doc_id"),
          MinHashSigFn.minhashSig(col("text"), k, 16).as("sig"),
          ShingleSetFn.shingleSet(col("text"), k).as("sh"),
          substrShingles(col("text"), k).as("ref_sh"))
        .collect().map(r => r.getLong(0) -> r).toMap
      windowTexts.zipWithIndex.foreach { case (t, i) =>
        val u = UTF8String.fromString(t)
        val ref = substringSig(u, k, 16)
        // generated code and the Impl called directly: bit-identical
        assert(rows(i.toLong).getSeq[Long](1) == ref, s"sig k=$k on '$t'")
        assert(MinHashImpl.sig(u, k, 16).toLongArray().toSeq == ref,
          s"direct sig k=$k on '$t'")
        // same distinct shingles in the same first-occurrence order
        val refSh = rows(i.toLong).getSeq[String](3)
        assert(rows(i.toLong).getSeq[String](2) == refSh, s"shingles k=$k on '$t'")
        assert(ShingleSetImpl.shingles(u, k).toArray[UTF8String](StringType)
          .map(_.toString).toSeq == refSh,
          s"direct shingles k=$k on '$t'")
      }
    }
    // first-occurrence order and distinctness, spelled out
    val rep = Seq((0L, "abcabcab")).toDF("doc_id", "text")
      .select(ShingleSetFn.shingleSet(col("text"), 3)).head().getSeq[String](0)
    assert(rep == Seq("abc", "bca", "cab"))
  }

  test("text kernels read no byte past numBytes on a truncated multi-byte tail") {
    // 8 bytes "abcdefg" + a lone 0xE2 lead byte (claims a 3-byte char),
    // followed in memory by bytes that are NOT part of the string
    def at(tail: Byte): UTF8String = {
      val mem = "abcdefg".getBytes("UTF-8") ++ Array(0xE2.toByte) ++ Array.fill(8)(tail)
      UTF8String.fromAddress(mem, Platform.BYTE_ARRAY_OFFSET, 8)
    }
    val (a, b) = (at('x'.toByte), at('y'.toByte))
    // the substring reference copies 2 bytes past the end: it DOES see them
    assert(substringSig(a, 5, 16) != substringSig(b, 5, 16))
    assert(MinHashImpl.sig(a, 5, 16).toLongArray().toSeq ==
      MinHashImpl.sig(b, 5, 16).toLongArray().toSeq)
    def shingleBytes(s: UTF8String) =
      ShingleSetImpl.shingles(s, 5).toArray[UTF8String](StringType)
        .map(_.getBytes.toSeq).toSeq
    assert(shingleBytes(a) == shingleBytes(b))
    // the last window is clamped at the end of the string
    assert(shingleBytes(a).last == "defg".getBytes("UTF-8").toSeq :+ 0xE2.toByte)
    assert(shingleBytes(a).size == 4)
  }

  test("band_keys equals the xxhash64(element_at) band table, interpreted and generated") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val edge = Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 42L)
    val sigs = (0 until 300).map { i =>
      (i.toLong, Seq.fill(Dedup.NumHashes)(
        if (i % 10 == 0) edge(rng.nextInt(edge.size)) else rng.nextLong()))
    } :+ ((300L, Seq.fill(Dedup.NumHashes)(7L)))
    val df = sigs.toDF("doc_id", "sig")
    val ref = xxhashBandTable(df, Dedup.BandRows, Dedup.NumBands)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(ref.size == sigs.size * Dedup.NumBands)
    Seq(true, false).foreach { on =>
      val got = withCodegen(on) {
        val t = Dedup.bandTable(df)
        // the schema the X14 stream's accumulated band state unions with
        assert(t.schema.map(f => (f.name, f.dataType, f.nullable)) ==
          Seq(("doc_id", LongType, false), ("band", IntegerType, false),
            ("bsig", LongType, false)), s"codegen=$on")
        t.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
      }
      assert(got == ref, s"codegen=$on")
    }
    // the kernel called directly, band by band
    sigs.take(20).foreach { case (id, sig) =>
      val keys = BandKeysImpl.keys(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(sig.toArray),
        Dedup.BandRows, Dedup.NumBands).toLongArray().toSeq
      assert(keys == ref.filter(_._1 == id).map(_._3), s"direct keys of $id")
    }
    // keys of consecutive slices, and a null signature has none
    val keys = spark.range(1).select(
        BandKeysFn.bandKeys(sequence(lit(1L), lit(12L)), 6, 2),
        BandKeysFn.bandKeys(lit(null).cast("array<bigint>"), 6, 2)).head()
    assert(keys.getSeq[Long](0) == Seq(0L, 6L).map(o =>
      (1L to 6L).foldLeft(BandKeysImpl.Seed)((h, v) => XXH64.hashLong(v + o, h))))
    assert(keys.isNullAt(1))
  }

  test("set_jaccard equals an exact set Jaccard, NaN on two empty sets, null on null") {
    import spark.implicits._
    def exact(a: Seq[String], b: Seq[String]): Double = {
      val inter = (a.toSet & b.toSet).size
      inter.toDouble / (a.toSet | b.toSet).size
    }
    val rng = new scala.util.Random(31)
    val pool = (0 until 400).map(i => s"w$i") ++
      Seq("é", "ñandú", "€€", "数据", "🙂🙃", "𝄞x", "", " ", "a", "ab", "abc")
    def draw(n: Int): Seq[String] = rng.shuffle(pool).take(n)
    val big = draw(300)
    val cases: Seq[(Seq[String], Seq[String])] = Seq(
      (big, big),                                   // identical
      (big.take(150), big.drop(150)),               // disjoint
      (Seq("x"), Seq("x")), (Seq("x"), Seq("y")),   // one element
      (Seq("é€数"), Seq("é€数", "é€")),            // multi-byte
      (Seq("😀a", "😀b", "中文", "ß"), Seq("ß", "😀b", "x")),
      (big.take(10), big),                          // different sizes
      (big, (big.take(200) ++ draw(50)).distinct),
      (Seq(""), Seq("", "a")),
      (Seq("only"), Seq.empty[String])) ++
      (0 until 100).map(_ => (draw(rng.nextInt(60)), draw(1 + rng.nextInt(200))))
    val df = cases.zipWithIndex.map { case ((a, b), i) => (i, a, b) }.toDF("i", "a", "b")
    Seq(true, false).foreach { on =>
      val got = withCodegen(on) {
        df.select(col("i"), SetJaccardFn.setJaccard(col("a"), col("b")),
            SetJaccardFn.setJaccard(col("b"), col("a")))
          .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      }
      cases.zipWithIndex.foreach { case ((a, b), i) =>
        assert(got(i) == ((exact(a, b), exact(a, b))), s"codegen=$on case $i: $a / $b")
      }
    }
    // the same IEEE value as the cast-and-divide it replaced
    val viaIntersect = df.select(col("i"),
        (size(array_intersect(col("a"), col("b"))).cast("double") /
          (size(col("a")) + size(col("b")) -
            size(array_intersect(col("a"), col("b"))))).as("j"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    cases.indices.foreach(i =>
      assert(viaIntersect(i) == exact(cases(i)._1, cases(i)._2), s"case $i"))
    // two empty sets: NaN; a null array: null
    val empty = array().cast("array<string>")
    val edge = spark.range(1).select(SetJaccardFn.setJaccard(empty, empty),
        SetJaccardFn.setJaccard(lit(null).cast("array<string>"), array(lit("a"))))
      .head()
    assert(edge.getDouble(0).isNaN)
    assert(edge.isNullAt(1))
  }
}
