package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** SURVEY §2 #34g: the oracled stored-index search and the store
  * fixture's identity discipline. */
class StoreFixtureSpec extends SparkSuite {

  private def vecs = Tables.t(spark, Sf, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  test("q_ann_ivf_store is result-identical to q_ann_ivf_pq " +
      "(same frozen model, probe excluded)") {
    val stored = Ann.ivfPqStoreSearch(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val queryTime = Ann.ivfPqAnn(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(stored.nonEmpty)
    assert(stored == queryTime,
      s"stored $stored\nquery-time $queryTime")
  }

  test("ensurePqStore reuses a matching store and rebuilds on a " +
      "source-tag change") {
    val e = vecs
    val seeds = Ann.seedCentroidsOf(e, 8)
    val cbs = Ann.pqCodebookOf(e)
    val dir = tempDir("graft_fixture").toString
    Ann.ensurePqStore(e, seeds, cbs, dir, "tagA")
    val files = spark.read.parquet(dir).inputFiles.sorted
    assert(files.nonEmpty)
    val stamps = files.map(f =>
      f -> new java.io.File(new java.net.URI(f)).lastModified).toMap

    // same tag → untouched (no rewrite, not even an overwrite-in-place)
    Ann.ensurePqStore(e, seeds, cbs, dir, "tagA")
    val filesAfter = spark.read.parquet(dir).inputFiles.sorted
    assert(filesAfter.sameElements(files))
    assert(filesAfter.forall(f =>
      new java.io.File(new java.net.URI(f)).lastModified == stamps(f)))

    // changed tag (regenerated source / different sf dir) → rebuilt
    Ann.ensurePqStore(e.filter(col("vec_id") < 16), seeds, cbs, dir, "tagB")
    assert(spark.read.parquet(dir).count() == 16)
  }

  test("FixtureStore.ensure publishes via atomic move and keeps the " +
      "previous store when a rebuild fails mid-build") {
    import graft.sources.FixtureStore
    val dir = tempDir("graft_fs")
      .resolve("store").toString
    FixtureStore.ensure(dir, "t1") { p =>
      Files.createDirectories(java.nio.file.Paths.get(p))
      Files.write(java.nio.file.Paths.get(p, "data.txt"), "v1".getBytes)
    }
    def marker = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_source")), "UTF-8")
    assert(marker == "t1")
    // no stray build dir left behind after publishing
    val parent = new java.io.File(dir).getParentFile
    assert(!parent.listFiles.exists(_.getName.contains(".build-")))
    // a crashing rebuild must leave the t1 store fully intact — the
    // old in-place overwrite protocol failed exactly this
    intercept[RuntimeException] {
      FixtureStore.ensure(dir, "t2") { _ =>
        throw new RuntimeException("build died")
      }
    }
    assert(marker == "t1")
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "data.txt")), "UTF-8") == "v1")
    // and a successful rebuild swaps the whole directory
    FixtureStore.ensure(dir, "t2") { p =>
      Files.createDirectories(java.nio.file.Paths.get(p))
      Files.write(java.nio.file.Paths.get(p, "data.txt"), "v2".getBytes)
    }
    assert(marker == "t2")
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "data.txt")), "UTF-8") == "v2")
  }

  test("ivfPqAnnStore fails loudly on an undersized codebook") {
    val e = vecs
    val seeds = Ann.seedCentroidsOf(e, 8)
    val cbs = Ann.pqCodebookOf(e)
    val undersized = cbs.take(cbs.size - 2)
    val ex = intercept[IllegalArgumentException] {
      Ann.ivfPqAnnStore(spark, "/nonexistent", Array.fill(64)(0.0),
        seeds, undersized)
    }
    assert(ex.getMessage.contains("codebook must cover codes"),
      s"wrong failure: ${ex.getMessage}")
  }
}
