package graft

/** Contract-level checks of the driver registration surface. */
class SparkEntrySpec extends SparkSpec {

  test("no duplicate query names in the registry") {
    val names = SparkEntry.allQueries.map(_.name)
    assert(names.distinct.size == names.size)
  }

  test("every oracle key has a query implementation") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("t1 smoke: flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry matches the SURVEY §2 inventory size (289 keys, 279 oracles)") {
    assert(SparkEntry.queries.size == 289,
      s"got ${SparkEntry.queries.size} — update SURVEY §2 and this pin together")
    assert(SparkEntry.oracleSql.size == 279,
      s"got ${SparkEntry.oracleSql.size} oracle-registered keys")
  }

  test("Tables.planCache keys by session UUID: per-session reuse, no cross-session sharing") {
    val a = Tables.read(spark, sf, "nation")
    assert(Tables.read(spark, sf, "nation") eq a, "same session must reuse the plan")
    val sibling = spark.newSession()
    val b = Tables.read(sibling, sf, "nation")
    assert(!(b eq a), "a different session must build its own plan")
    assert(Tables.read(sibling, sf, "nation") eq b)
    assert(b.sparkSession eq sibling, "cached plan must belong to its own session")
  }

  test("SessionMemo.evict drops a session's entries and unpersists only what the memos cached") {
    import org.apache.spark.storage.StorageLevel.NONE
    import graft.operators.LlmOps
    import graft.streaming.StreamRunner
    import graft.util.{SessionMemo, TempDirs}
    // a corpus no other spec caches, so no other cache entry can match
    val dir = TempDirs.create("memo_evict").toString
    Tables.read(spark, sf, "documents").limit(20).write.parquet(s"$dir/documents.parquet")
    val sibling = spark.newSession()
    val plan = Tables.read(sibling, dir, "documents")
    val (toks, sigs) = LlmOps.corpusToksAndSigs(sibling, dir)
    val tuned = StreamRunner.tunedSession(sibling)
    // the live session caches a plan equal to the sibling's uncached memo
    // plan — unpersisting that plan at eviction would drop this entry
    val livePlan = Tables.read(spark, dir, "documents").cache()
    val liveToks = LlmOps.docTokens(spark, sf)
    assert(toks.storageLevel != NONE && sigs.storageLevel != NONE)

    SessionMemo.evict(SessionMemo.sessionKey(sibling))

    assert(toks.storageLevel == NONE && sigs.storageLevel == NONE,
      "the evicted session's cached token tables must be unpersisted")
    assert(livePlan.storageLevel != NONE && liveToks.storageLevel != NONE,
      "the live session's cached data must survive")
    assert(Tables.read(spark, dir, "documents") eq livePlan)
    assert(LlmOps.docTokens(spark, sf) eq liveToks)
    // the evicted session's entries are gone: each lookup rebuilds
    assert(!(Tables.read(sibling, dir, "documents") eq plan))
    assert(!(LlmOps.corpusToksAndSigs(sibling, dir)._1 eq toks))
    assert(!(StreamRunner.tunedSession(sibling) eq tuned))
    SessionMemo.evict(SessionMemo.sessionKey(sibling))
    livePlan.unpersist()
  }

  test("Scale.keyOffset names the table when it is empty; max+1 otherwise") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("k", LongType))))
    val e = intercept[IllegalArgumentException](Scale.keyOffset(empty, "orders", "k"))
    assert(e.getMessage.contains("orders"), e.getMessage)
    import spark.implicits._
    assert(Scale.keyOffset(Seq(1L, 7L).toDF("k"), "t", "k") == 8L)
  }

  test("SURVEY §2 key rows and the registry agree EXACTLY, name by name") {
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val keyRe =
      """(?m)^\| `((?:op|fn|src|sink|join|agg|win|setop|stream|llm|ts|graph)_[a-z0-9_]+)`""".r
    val surveyKeys = keyRe.findAllMatchIn(text).map(_.group(1)).toSet
    val registry = SparkEntry.queries.keySet
    val missing = registry -- surveyKeys
    val stale = surveyKeys -- registry
    assert(missing.isEmpty && stale.isEmpty,
      s"SURVEY missing: ${missing.toSeq.sorted}; SURVEY stale: ${stale.toSeq.sorted}")
  }
}
