package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions

/** Native vector expressions: parity with the HOF formulation (which is
  * also the DuckDB oracle's arithmetic), SQL registration, codegen. */
class VectorExprSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  test("graft_dot == aggregate(zip_with(...)) bit-for-bit") {
    val hof = aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val diff = emb.select(VectorFunctions.dot(spark, col("v"), col("v"))
      .as("native"), hof.as("hof"))
      .where(col("native") =!= col("hof"))
    assert(diff.count() === 0)
  }

  test("graft_cosine of a vector with itself is 1") {
    val bad = emb.select(
      VectorFunctions.cosine(spark, col("v"), col("v")).as("c"))
      .where(abs(col("c") - 1.0) > 1e-12)
    assert(bad.count() === 0)
  }

  test("graft_l2norm == sqrt(graft_dot(v, v))") {
    val diff = emb.select(
      VectorFunctions.l2norm(spark, col("v")).as("n"),
      sqrt(VectorFunctions.dot(spark, col("v"), col("v"))).as("s"))
      .where(col("n") =!= col("s"))
    assert(diff.count() === 0)
  }

  test("functions are SQL-callable after registration") {
    VectorFunctions.register(spark)
    emb.createOrReplaceTempView("emb_v")
    val r = spark.sql(
      "SELECT graft_cosine(v, v) c, graft_l2norm(v) n FROM emb_v LIMIT 5")
      .collect()
    assert(r.length === 5)
    assert(r.forall(row => math.abs(row.getDouble(0) - 1.0) < 1e-12))
  }

  test("register adds only the functions a session lacks and leaves " +
      "registered ones in place") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val s2 = spark.newSession()
    val reg = s2.sessionState.functionRegistry
    val names = Seq("graft_dot", "graft_cosine", "graft_l2norm",
      "graft_simhash_bits", "graft_sorted_intersect_count",
      "graft_minhash8", "graft_shingle_hashes3", "graft_token_hashes",
      "graft_rolling_fp8", "graft_bpe_tokens")
    VectorFunctions.register(s2)
    def infos = names.map(n => reg.lookupFunction(FunctionIdentifier(n)))
    val before = infos
    assert(before.forall(_.isDefined), s"unregistered: $names")
    // a registered function is left as it is: replacing it is a
    // registry write plus a "replaced a previously registered
    // function" WARN per function on every dot/cosine/... call
    s2.range(1).select(VectorFunctions.dot(s2, array(lit(1.0)),
      array(lit(2.0)))).collect()
    infos.zip(before).zip(names).foreach { case ((a, b), n) =>
      assert(a.get eq b.get, s"$n was re-registered") }
    // a function the session lacks is added back
    reg.dropFunction(FunctionIdentifier("graft_l2norm"))
    VectorFunctions.register(s2)
    assert(s2.sql("SELECT graft_l2norm(array(3.0d, 4.0d))").first()
      .getDouble(0) === 5.0)
  }

  test("sorted intersect count == size(array_intersect) on shingle sets") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"),
        sort_array(array_distinct(transform(split(col("text"), " "),
          t => xxhash64(t)))).as("h"))
    val pairs = docs.select(col("source"), col("h").as("ha"))
      .join(docs.select(col("source"), col("h").as("hb")), "source")
      .limit(2000)
    val diff = pairs.select(
      VectorFunctions.sortedIntersectCount(spark, col("ha"), col("hb"))
        .as("native"),
      size(array_intersect(col("ha"), col("hb"))).as("generic"))
      .where(col("native") =!= col("generic"))
    assert(diff.count() === 0)
  }

  test("graft_shingle_hashes3 == HOF sort/distinct/xxhash formulation") {
    val tk = split(col("text"), " ")
    val hof = sort_array(array_distinct(transform(
      sequence(lit(0), greatest(size(tk) - 3, lit(0))),
      i => xxhash64(concat_ws(" ", slice(tk, i + 1, lit(3)))))))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val diff = docs.select(
      VectorFunctions.shingleHashes3(spark, col("text")).as("native"),
      hof.as("hof"))
      .where(col("native") =!= col("hof"))
    assert(diff.count() === 0)
  }

  test("shingle/token hashes match HOF on consecutive-space / edge strings") {
    // Consecutive spaces make split() produce empty tokens; the native
    // kernel's raw byte range [tok_i.start, tok_{i+2}.end) still equals
    // concat_ws(" ", slice(...)) because adjacent token boundaries are
    // always separated by exactly one space byte.
    import spark.implicits._
    val edge = Seq("a  b c", "  leading", "trailing  ", "a b", "", " ",
      "one", "double  space  everywhere", "a   b").toDF("text")
    val tk = split(col("text"), " ")
    val shHof = sort_array(array_distinct(transform(
      sequence(lit(0), greatest(size(tk) - 3, lit(0))),
      i => xxhash64(concat_ws(" ", slice(tk, i + 1, lit(3)))))))
    val tokHof = transform(split(col("text"), " "), t => xxhash64(t))
    val diff = edge.select(
      VectorFunctions.shingleHashes3(spark, col("text")).as("ns"),
      shHof.as("hs"),
      VectorFunctions.tokenHashes(spark, col("text")).as("nt"),
      tokHof.as("ht"))
      .where(col("ns") =!= col("hs") || col("nt") =!= col("ht"))
    assert(diff.count() === 0)
  }

  test("graft_rolling_fp8 == HOF min/distinct of xxhash64(substr) windows") {
    val fps = transform(
      sequence(lit(1), greatest(length(col("text")) - 7, lit(1))),
      i => xxhash64(col("text").substr(i, lit(8))))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val diff = docs
      .select(col("text"), fps.as("fps"))
      .select(
        VectorFunctions.rollingFp8(spark, col("text")).as("native"),
        array_min(col("fps")).as("fp_min"),
        size(array_distinct(col("fps"))).as("fp_distinct"))
      .where(col("native.fp_min") =!= col("fp_min") ||
        col("native.fp_distinct") =!= col("fp_distinct"))
    assert(diff.count() === 0)
  }

  test("graft_rolling_fp8 matches HOF on short / empty / multi-byte text") {
    // substr counts CHARACTERS: the multi-byte rows prove the window
    // byte-offsets walk char starts, not raw bytes
    import spark.implicits._
    val edge = Seq("", "a", "1234567", "12345678", "123456789",
      "naïve café text über all", "日本語のテキストです長いもの",
      "mixed ascii and 中文 characters here").toDF("text")
    val fps = transform(
      sequence(lit(1), greatest(length(col("text")) - 7, lit(1))),
      i => xxhash64(col("text").substr(i, lit(8))))
    val diff = edge
      .select(col("text"), fps.as("fps"))
      .select(
        VectorFunctions.rollingFp8(spark, col("text")).as("native"),
        array_min(col("fps")).as("fp_min"),
        size(array_distinct(col("fps"))).as("fp_distinct"))
      .where(col("native.fp_min") =!= col("fp_min") ||
        col("native.fp_distinct") =!= col("fp_distinct"))
    assert(diff.count() === 0)
  }

  test("graft_token_hashes == transform(split, xxhash64)") {
    val hof = transform(split(col("text"), " "), t => xxhash64(t))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val diff = docs.select(
      VectorFunctions.tokenHashes(spark, col("text")).as("native"),
      hof.as("hof"))
      .where(col("native") =!= col("hof"))
    assert(diff.count() === 0)
  }

  test("null inputs propagate null") {
    VectorFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d))").first()
    assert(r.isNullAt(0))
  }
}
