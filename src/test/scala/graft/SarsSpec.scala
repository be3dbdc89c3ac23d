package graft

import org.apache.spark.sql.functions._

import graft.packs.SarsPack

/** SURVEY.md §2 #69 — the SARs process-baseline pipeline
  * (ref src/sars/run.py + writeBack.py). */
class SarsSpec extends SparkSuite {
  import spark.implicits._

  private def pe = SarsPack.processEventsFromEvents(
    Tables.t(spark, Sf, "events"))

  test("process baseline counts hits per (process, day, instance)") {
    val base = SarsPack.processBaseline(pe)
    assert(base.columns.toSeq ==
      Seq("process", "day", "instance_id", "hits"))
    // only process_events rows in-window are counted
    val total = base.agg(sum("hits")).head().getLong(0)
    val expected = pe.filter(col("name") === "process_events" &&
      col("event_time") >= lit("2023-12-26 12:00:00").cast("timestamp") &&
      col("event_time") < lit("2024-01-30 11:00:00").cast("timestamp"))
      .count()
    assert(total == expected && expected > 0)
    // group keys are unique
    assert(base.count() ==
      base.select("process", "day", "instance_id").distinct().count())
  }

  test("writeBack round-trips the baseline through parquet") {
    val dir = tempDir("sars").resolve("baseline").toString
    val base = SarsPack.processBaseline(pe)
    SarsPack.writeBack(base, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == base.count())
    // parquet widens nullability; names/types must survive exactly
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      base.schema.map(f => (f.name, f.dataType)))
    // CREATE OR REPLACE semantics: a second write replaces, not appends
    SarsPack.writeBack(base.limit(5), dir)
    assert(spark.read.parquet(dir).count() == 5)
  }

  test("fused events-path queries match the generic operators row-for-row") {
    val ev = Tables.t(spark, Sf, "events")
    val baseFused = SarsPack.processBaselineFromEvents(ev)
    val baseGeneric = SarsPack.processBaseline(pe)
    assert(baseFused.exceptAll(baseGeneric).isEmpty &&
      baseGeneric.exceptAll(baseFused).isEmpty)
    val newFused = SarsPack.newProcessesFromEvents(ev)
    val newGeneric = SarsPack.newProcesses(pe)
    assert(newFused.exceptAll(newGeneric).isEmpty &&
      newGeneric.exceptAll(newFused).isEmpty)
  }

  test("packed group key guards user_id >= 2^35 loudly (never a " +
      "silent wrong answer)") {
    // the fused path packs (k%25, user_id) into one long assuming
    // user_id < 2^35; a larger actor space must FAIL, not fold two
    // users onto one group (round-20 guard, the Layout non-null-key
    // precedent). In-bounds sibling row proves the guard is inert on
    // legal ids.
    val events = Seq(
      (1L, "2024-01-30 01:00:00", """{"k":0}"""),
      (1L << 35, "2024-01-30 02:00:00", """{"k":2}""")
    ).toDF("user_id", "et", "props")
      .withColumn("ts", col("et").cast("timestamp"))
    val e = intercept[Exception] {
      SarsPack.newProcessesFromEvents(events).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        String.valueOf(x.getMessage) +: msgs(x.getCause))
    assert(msgs(e).exists(_.contains("outside [0, 2^35)")),
      s"expected the pack guard, got: ${msgs(e).mkString(" | ")}")
    // and the guard does not fire on in-bounds ids
    val ok = SarsPack.newProcessesFromEvents(
      events.filter(col("user_id") === 1L))
    assert(ok.collect().map(_.getAs[String]("instance_id")).toSet ==
      Set("i-1"))
  }

  test("new-process detection flags a process unseen in the baseline") {
    // a process whose k-slot only fires in the trailing day would be
    // flagged; plant one explicitly to pin the anti-join direction
    val planted = Seq(
      // in-baseline process p0 on i-1, also active recently → NOT new
      ("2024-01-10 00:00:00", "process_events", "/usr/bin/p0", "i-1"),
      ("2024-01-30 00:00:00", "process_events", "/usr/bin/p0", "i-1"),
      // recent-only process → new
      ("2024-01-30 01:00:00", "process_events", "/usr/bin/evil", "i-1"),
      // recent-only but file_events → ignored entirely
      ("2024-01-30 02:00:00", "file_events", "/usr/bin/f", "i-1"),
      // recent-only on a DIFFERENT instance of a known process → new
      // (the baseline key is the (process, instance) pair)
      ("2024-01-30 03:00:00", "process_events", "/usr/bin/p0", "i-2")
    ).toDF("et", "name", "process", "instance_id")
      .withColumn("event_time", col("et").cast("timestamp"))

    val got = SarsPack.newProcesses(planted)
      .select("process", "instance_id").as[(String, String)].collect().toSet
    assert(got == Set(("/usr/bin/evil", "i-1"), ("/usr/bin/p0", "i-2")))
  }
}
