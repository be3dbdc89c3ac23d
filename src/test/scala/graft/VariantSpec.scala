package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Connectors

/** SURVEY.md §2 #25: VARIANT flatten — from_json of arrays/maps +
  * (pos)explode, the LATERAL FLATTEN analogue of the reference's
  * data.*_v views. */
class VariantSpec extends SparkSuite {
  import spark.implicits._

  private val recSchema = StructType(Seq(
    StructField("name", StringType),
    StructField("qty", IntegerType)))

  test("flattenJsonArray explodes array elements with position") {
    val df = Seq(
      ("r1", """[{"name":"a","qty":1},{"name":"b","qty":2}]"""),
      ("r2", """[{"name":"c","qty":3}]""")
    ).toDF("id", "items")
    val flat = Connectors.flattenJsonArray(df, "items", recSchema)
    assert(flat.count() == 3)
    assert(flat.columns.toSeq == Seq("id", "items", "pos", "value"))
    val b = flat.filter(col("value.name") === "b").head
    assert(b.getAs[String]("id") == "r1")
    assert(b.getAs[Int]("pos") == 1)
    // aggregating over flattened values (the typical *_v view usage)
    val total = flat.agg(sum(col("value.qty"))).head.getLong(0)
    assert(total == 6L)
  }

  test("flattenJsonArray outer keeps rows with null/empty arrays") {
    val df = Seq(("r1", """[{"name":"a","qty":1}]"""), ("r2", null),
      ("r3", "[]")).toDF("id", "items")
    val inner = Connectors.flattenJsonArray(df, "items", recSchema)
    assert(inner.count() == 1)
    val outer = Connectors.flattenJsonArray(df, "items", recSchema,
      outer = true)
    assert(outer.count() == 3)
    assert(outer.filter(col("id") === "r2").head.isNullAt(3))
  }

  test("flattenJsonMap explodes object keys and values") {
    val df = Seq(
      ("u1", """{"login":"2024-01-01","logout":"2024-01-02"}""")
    ).toDF("id", "props")
    val flat = Connectors.flattenJsonMap(df, "props", StringType)
    assert(flat.count() == 2)
    assert(flat.columns.toSeq == Seq("id", "props", "key", "value"))
    val keys = flat.select("key").collect().map(_.getString(0)).sorted
    assert(keys.sameElements(Array("login", "logout")))
  }

  test("native VariantType round-trips the props column (Spark 4 VARIANT)") {
    // the engine's JSON-string columns upgrade in place to Spark 4's
    // native VariantType: parse_json → binary variant encoding,
    // variant_get with a path + target type, is_variant_null for the
    // reference's IS_NULL_VALUE. Cast-to-string round-trips.
    val df = Tables.t(spark, Sf, "events").limit(100)
      .select(col("event_id"), parse_json(col("props")).as("v"))
    assert(df.schema("v").dataType ==
      org.apache.spark.sql.types.VariantType)
    val typed = df.select(
      col("event_id"),
      variant_get(col("v"), "$.k", "int").as("k"),
      try_variant_get(col("v"), "$.missing", "string").as("nope"))
    assert(typed.filter(col("k").isNotNull).count() == 100)
    assert(typed.filter(col("nope").isNotNull).count() == 0)
    // agrees with the string-JSON path used by the oracle queries
    val both = Tables.t(spark, Sf, "events").limit(100)
      .select(
        variant_get(parse_json(col("props")), "$.k", "int").as("kv"),
        get_json_object(col("props"), "$.k").cast("int").as("ks"))
    assert(both.filter(!(col("kv") <=> col("ks"))).count() == 0)
  }

  test("multimodal stub decode is deterministic with the right schema") {
    val df = Multimodal.queries("q_multimodal_meta")(spark, Sf)
    assert(df.columns.toSeq ==
      Seq("doc_id", "n_bytes", "width", "height", "n_frames"))
    val a = df.collect()
    val b = Multimodal.queries("q_multimodal_meta")(spark, Sf).collect()
    assert(a.sameElements(b))
    // stub arithmetic: width = 64 + n % 512 for byte length n
    val r = a.head
    val n = r.getAs[Long]("n_bytes")
    assert(r.getAs[Long]("width") == 64L + n % 512)
    assert(r.getAs[Long]("height") == 64L + (n * 31) % 512)
    assert(a.forall(_.getAs[Long]("n_frames") >= 1L))
  }

  test("media phash pairs same-length near-identical payloads, not edits of length") {
    import spark.implicits._
    val dir = tempDir("graft_phash").toString
    val base = "the quick brown fox jumps over the lazy dog repeatedly" * 3
    // doc 2 = doc 1 with ONE byte changed (same length): at most a few
    // of the 33 samples shift → small hamming → paired. doc 3 is
    // unrelated content of the same length; doc 4 is doc 1 truncated
    // (different length → every sample offset moves → no pair
    // guaranteed, and none expected here).
    val edited = base.updated(20, 'X')
    val unrelated = scala.util.Random.javaRandomToRandom(
      new java.util.Random(7)).alphanumeric.take(base.length).mkString
    Seq((1L, base, "en", "s", base.length.toLong),
      (2L, edited, "en", "s", edited.length.toLong),
      (3L, unrelated, "en", "s", unrelated.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Multimodal.mediaPhashDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)),
      s"expected exactly the planted near-identical pair, got $got")
  }
}
