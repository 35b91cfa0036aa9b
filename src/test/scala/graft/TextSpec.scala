package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import graft.text.TextFunctions._

class TextSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.functions.ChCompat.register(spark)
  }

  test("langId votes the right language on clear-cut snippets") {
    import spark.implicits._
    val samples = Seq(
      ("en", "the cat sat on the mat and it was happy that day"),
      ("de", "der hund ist nicht in das haus und die katze auf dem dach"),
      ("es", "el perro es un animal que vive en la casa y las calles"),
      ("fr", "le chien est dans la maison et les chats pour une promenade"),
      ("zh", "我有一只猫它在我的房子里这是他的家不是不好"))
      .toDF("expected", "text")
    val got = samples.select(col("expected"), langId(col("text")).as("pred")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"expected ${r.getString(0)}, got ${r.getString(1)}"))
  }

  test("token counting: whitespace and bpe-ish variants") {
    import spark.implicits._
    val df = Seq("Hello world, 42 tests!  extra   spaces").toDF("text")
    val r = df.select(
      tokenCount(col("text")).as("ws"),
      size(bpeishTokens(col("text"))).as("bpe")).collect()(0)
    assert(r.getInt(0) == 6)
    // Hello world , 42 tests ! extra spaces → 8
    assert(r.getInt(1) == 8)
  }

  test("fingerprint64 is stable under trailing-whitespace-only noise and shifts on edits") {
    import spark.implicits._
    val df = Seq(
      ("a", "alpha beta gamma delta epsilon zeta"),
      ("b", "alpha beta gamma delta epsilon zeta   "),
      ("c", "alpha beta gamma delta epsilon thorn")).toDF("id", "text")
    val fp = df.select(col("id"), fingerprint64(col("text")).as("fp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fp("a") == fp("b"))
    // min over shingle hashes MAY survive a tail edit; just require determinism
    val fp2 = df.select(col("id"), fingerprint64(col("text")).as("fp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fp == fp2)
  }

  test("normalizeForDedup: case/punct/space variants collapse to one form; Unicode survives") {
    import spark.implicits._
    import graft.text.TextFunctions
    val variants = Seq(
      "Hello,  World! 42",
      "hello world 42",
      "HELLO -- world ... 42",
      "  hello\tworld\n42  ")
    val norms = variants.toDF("t")
      .select(TextFunctions.normalizeForDedup(col("t")).as("n"))
      .collect().map(_.getString(0)).toSet
    assert(norms == Set("hello world 42"), s"got $norms")
    // accents and non-Latin letters are content, not punctuation
    val uni = Seq("Café crème — 北京 42!").toDF("t")
      .select(TextFunctions.normalizeForDedup(col("t"))).head().getString(0)
    assert(uni == "café crème 北京 42")
  }

  test("redactPii: email/url/number sentinels with the declared precedence") {
    import spark.implicits._
    import graft.text.TextFunctions
    val got = Seq(
      "mail a.b+c@ex-ample.org now",
      "see https://x.io/p?id=123456789 ok",
      "call 12345678 x",
      "short 123456 stays",
      "no pii here").toDF("t")
      .select(TextFunctions.redactPii(col("t")).as("r"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(
      "mail <EMAIL> now",
      "see <URL> ok",       // the URL's digit run is inside the URL sentinel
      "call <NUM> x",
      "short 123456 stays", // 6 digits: below the 7+ threshold
      "no pii here"))
  }

  test("quality features: exact counts on a known sentence") {
    import spark.implicits._
    val df = Seq("The quick fox, the lazy dog.").toDF("text")
    val f = df.select(qualityFeatures(col("text")).as("f")).select("f.*").collect()(0)
    assert(f.getAs[Int]("n_tokens") == 6)
    assert(f.getAs[Int]("stopword_cnt") == 2)   // 'The' + 'the'
    assert(f.getAs[Int]("punct_cnt") == 2)      // ',' + '.'
  }

  test("compression ratio orders repetition < prose < random, deterministically") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val prose = "The quick brown fox jumps over the lazy dog and then " * 20
    val repeated = "spam " * 200
    val random = (1 to 1000).map(_ => rnd.nextPrintableChar()).mkString
    val rows = Seq(("rep", repeated), ("prose", prose), ("rand", random))
      .toDF("k", "text")
    val r = rows.select(col("k"), compressionRatio(col("text")).as("cr"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("rep") < r("prose") && r("prose") < r("rand"),
      s"expected rep < prose < rand, got $r")
    assert(r("rep") < 0.1, s"highly repetitive text must compress hard: ${r("rep")}")
    assert(r("rand") > 0.8, s"random text must not compress: ${r("rand")}")
    // deterministic across evaluations and partitionings
    val again = rows.repartition(5)
      .select(col("k"), compressionRatio(col("text")).as("cr"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(again == r)
    // SQL spelling + edge cases
    assert(spark.sql("SELECT compression_ratio('') c").head().getDouble(0) == 1.0)
    assert(spark.sql("SELECT compression_ratio(CAST(NULL AS STRING)) c").head().isNullAt(0))
  }

  test("WsTokensExpr ≡ filter(split(text,'\\\\s+'), _ =!= '') and its lowered twin, byte-for-byte") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val wsChars = " \t\n\f\r"
    def randText(): String = (1 to rnd.nextInt(40)).map { _ =>
      rnd.nextInt(5) match {
        case 0 => wsChars(rnd.nextInt(wsChars.length)).toString
        case 1 => "Ünïço∂é文字ΣΑΒ"(rnd.nextInt(11)).toString
        case _ => ('!' + rnd.nextInt(90)).toChar.toString
      }
    }.mkString
    val edge = Seq(
      "", " ", "  \t\n ", "a", " a", "a ", "  a  b  ", "a\tb\nc\rd\fef",
      "ΣΑΒ ΓΔΣ word-final-sigma ΒΣ", "中文 没有 空格", "MIXED Case Tokens HERE",
      null.asInstanceOf[String])
    val df = (edge ++ (1 to 300).map(_ => randText())).toDF("text")
    // reference forms: the exact HOF chains the primitives replaced
    val ref = df.select(
      filter(split(col("text"), "\\s+"), t => t =!= "").as("rt"),
      transform(filter(split(col("text"), "\\s+"), t => t =!= ""), t => lower(t)).as("rl"))
    val got = df.select(
      tokens(col("text")).as("gt"),
      lowerTokens(col("text")).as("gl"),
      tokenCount(col("text")).as("gc"))
    // element nullability differs only in declared containsNull, values must match
    val rs = ref.collect().zip(got.collect())
    rs.foreach { case (r, g) =>
      assert(r.isNullAt(0) == g.isNullAt(0))
      if (!r.isNullAt(0)) {
        assert(r.getSeq[String](0) == g.getSeq[String](0), s"tokens differ: $r vs $g")
        assert(r.getSeq[String](1) == g.getSeq[String](1), s"lowered differ: $r vs $g")
        assert(g.getInt(2) == g.getSeq[String](0).size, s"count differs: $g")
      } else assert(g.isNullAt(2))
    }
  }

  test("ws_tokens_lower keeps a collated input's element type and values") {
    import spark.implicits._
    val df = Seq("Hello WORLD  ΣΑΒ ΟΔΟΣ", "  a\tB  ", "", null.asInstanceOf[String])
      .toDF("text").select(collate(col("text"), "UTF8_LCASE").as("text"))
    val ref = transform(filter(split(col("text"), "\\s+"), t => t =!= ""), t => lower(t))
    val out = df.select(lowerTokens(col("text")).as("got"), ref.as("want"))
    val ArrayType(gotType, _) = out.schema("got").dataType
    val ArrayType(wantType, _) = out.schema("want").dataType
    assert(gotType == wantType, s"$gotType vs $wantType")
    out.collect().foreach(r =>
      assert(Option(r.getSeq[String](0)) == Option(r.getSeq[String](1)), s"$r"))
  }
}
