package graft

import org.apache.spark.sql.functions._

import graft.functions.TextExprs
import graft.text.TextOps

/** Native text kernels (shingles / MinHash LSH bands / SimHash):
  * bit-equality against the interpreted higher-order-function forms
  * they replaced (the forms the DuckDB oracles mirror), plus
  * codegen-vs-interpreted agreement and null/edge handling. */
class TextKernelsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog today"),
    (3L, "a b a b a b a b"),
    (4L, "one two three"),
    (5L, "x y"), // shorter than n=3: filtered by withShingles
    (6L, "repeat repeat repeat repeat repeat"),
  ).toDF("doc_id", "text")

  private val n = 3
  private val k = 16
  private val bands = 8

  /** The interpreted shingle form the kernel replaced. */
  private def hofShingles(tokens: org.apache.spark.sql.Column) =
    array_distinct(transform(
      sequence(lit(1), size(tokens) - (n - 1)),
      i => array_join(slice(tokens, i, lit(n)), " ")))

  test("native shingles equal array_distinct∘transform∘slice, order included") {
    val both = TextOps.withTokens(docs)
      .where(size(col("tokens")) >= n)
      .select(
        TextExprs.shingles(col("tokens"), n).as("native"),
        hofShingles(col("tokens")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("native LSH bands equal the md5-min/concat HOF pipeline") {
    val sh = TextOps.withShingles(docs, n)
    val sigs = (0 until k).map { i =>
      array_min(transform(col("shingles"), s => md5(concat(lit(s"$i:"), s)))).as(s"mh$i")
    }
    val rows = k / bands
    val bandCols = (0 until bands).map { j =>
      md5(concat_ws("|", (0 until rows).map(r => col(s"mh${j * rows + r}")): _*))
    }
    val hof = sh.select(col("doc_id") +: sigs: _*)
      .select(col("doc_id"), array(bandCols: _*).as("hof_bands"))
    val native = sh.select(col("doc_id"),
      TextExprs.lshBands(col("shingles"), k, bands).as("native_bands"))
    val joined = native.join(hof, "doc_id").collect()
    assert(joined.length == 5)
    joined.foreach(r => assert(r.getSeq[String](1) == r.getSeq[String](2)))
  }

  test("native minhash signature equals the per-salt array_min form") {
    val sh = TextOps.withShingles(docs, n)
    val sigs = (0 until k).map { i =>
      array_min(transform(col("shingles"), s => md5(concat(lit(s"$i:"), s)))).as(s"mh$i")
    }
    val hof = sh.select(col("doc_id") +: sigs: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"mh$i")): _*).as("hof"))
    val native = sh.select(col("doc_id"),
      TextExprs.minhashSigs(col("shingles"), k).as("native"))
    native.join(hof, "doc_id").collect()
      .foreach(r => assert(r.getSeq[String](1) == r.getSeq[String](2)))
  }

  test("native 64-bit simhash equals the explode/groupBy bit-sum form") {
    val hashed = TextOps.withTokens(docs)
      .where(size(col("tokens")) >= n)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(1), size(col("tokens")) - (n - 1)),
          i => array_join(slice(col("tokens"), i, lit(n)), " "))).as("t"))
      .select(col("doc_id"), md5(col("t")).as("h"))
    def hexSet(w: Int): Seq[String] =
      (0 until 16).filter(v => (v & w) != 0).map(Integer.toHexString)
    val bitSums = (1 to 64).map { b =>
      val ci = (b - 1) / 4 + 1
      val w = 8 >> ((b - 1) % 4)
      sum(when(substring(col("h"), ci, 1).isin(hexSet(w): _*), 1L).otherwise(-1L))
        .as(s"bit$b")
    }
    val bits = concat((1 to 64).map(b =>
      when(col(s"bit$b") > 0, lit("1")).otherwise(lit("0"))): _*)
    val hof = hashed.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), bits.as("hof"))
    val native = TextOps.withSimhash(docs, n).select(col("doc_id"), col("simhash"))
    val joined = native.join(hof, "doc_id").collect()
    assert(joined.length == 5)
    joined.foreach(r => assert(r.getString(1).length == 64 && r.getString(1) == r.getString(2)))
  }

  test("interpreted eval matches codegen for all three kernels") {
    val sh = TextOps.withShingles(docs, n)
      .select(col("doc_id"), col("shingles"),
        TextExprs.lshBands(col("shingles"), k, bands).as("b"))
    val sim = TextOps.withSimhash(docs, n).select("doc_id", "simhash")
    restoringConfs("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode") {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val shI = sh.collect().toSeq.map(_.toString)
      val simI = sim.collect().toSeq.map(_.toString)
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      assert(sh.collect().toSeq.map(_.toString) == shI)
      assert(sim.collect().toSeq.map(_.toString) == simI)
    }
  }

  test("native intersect size equals size(array_intersect) on distinct arrays") {
    val sh = TextOps.withShingles(docs, 3).select(col("doc_id"), col("shingles"))
    val pairs = sh.as("x").join(sh.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id"), col("y.doc_id"),
        TextExprs.intersectSize(col("x.shingles"), col("y.shingles")).as("native"),
        size(array_intersect(col("x.shingles"), col("y.shingles"))).cast("long").as("hof"))
    assert(pairs.where(col("native") =!= col("hof")).isEmpty)
    assert(pairs.where(col("native") > 0).count() > 0)
    // interpreted eval agrees with the codegen path
    val a = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Seq("p", "q", "r").map(org.apache.spark.unsafe.types.UTF8String.fromString))
    val b = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Seq("q", "r", "s", "t").map(org.apache.spark.unsafe.types.UTF8String.fromString))
    assert(graft.functions.TextKernels.intersectSize(a, b) == 2L)
  }

  test("minhash aggregate: merge-invariant under partitioning; singleton group = doc signature") {
    val sh = TextOps.withShingles(docs, n)
    // one group with all docs: signature must not depend on partitioning
    val sig1 = sh.repartition(1).agg(
      graft.functions.MinHashAgg.minhashAgg(col("shingles"), k)).head().getSeq[String](0)
    val sig7 = sh.repartition(7).agg(
      graft.functions.MinHashAgg.minhashAgg(col("shingles"), k)).head().getSeq[String](0)
    assert(sig1 == sig7 && sig1.length == k)
    // a single-doc group equals the per-document signature kernel
    val both = sh.groupBy("doc_id")
      .agg(graft.functions.MinHashAgg.minhashAgg(col("shingles"), k).as("agg_sig"))
      .join(sh.select(col("doc_id"),
        TextExprs.minhashSigs(col("shingles"), k).as("doc_sig")), "doc_id")
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getSeq[String](1) == r.getSeq[String](2)))
    // group signature rows are the MIN of member signature rows
    val members = sh.select(TextExprs.minhashSigs(col("shingles"), k).as("s")).collect()
      .map(_.getSeq[String](0))
    val expected = (0 until k).map(i => members.map(_(i)).min)
    assert(sig1 == expected)
  }

  test("null tokens array gives null, repeated-token docs dedup shingles") {
    val withNull = Seq((1L, Option(Seq("a", "b", "c", "d"))), (2L, None))
      .toDF("id", "toks")
    val got = withNull.select(TextExprs.shingles(col("toks"), n)).collect()
    assert(got(0).getSeq[String](0) == Seq("a b c", "b c d"))
    assert(got(1).isNullAt(0))
    // doc 6: every window is "repeat repeat repeat" → one distinct shingle
    val rep = TextOps.withShingles(docs, n)
      .where(col("doc_id") === 6L).select("shingles").head().getSeq[String](0)
    assert(rep == Seq("repeat repeat repeat"))
  }
}
