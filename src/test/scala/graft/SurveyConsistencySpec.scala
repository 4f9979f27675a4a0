package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.io.Source

/** SURVEY.md §2 is the judge's checklist — this spec keeps it honest:
  * every backtick-named query line must exist in SparkEntry.queries, must
  * have an oracle unless the line is marked *rows-only*, and every
  * registered query must be documented in §2.
  */
class SurveyConsistencySpec extends AnyFunSuite {
  private val qname = """`([a-z]\d{2}[a-z0-9_]*)`""".r
  private lazy val section2: Seq[String] = {
    val src = Source.fromFile("SURVEY.md", "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    val start = lines.indexWhere(_.startsWith("## §2"))
    val end = lines.indexWhere(_.startsWith("## §3"))
    lines.slice(start, end)
  }
  private lazy val documented: Map[String, String] =
    section2.flatMap { l =>
      qname.findFirstMatchIn(l).map(m => m.group(1) -> l)
    }.toMap

  test("every SURVEY §2 query line is registered in SparkEntry.queries") {
    val missing = documented.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"documented but not registered: $missing")
  }

  test("every registered query is documented in SURVEY §2") {
    val undocumented = SparkEntry.queries.keySet -- documented.keySet
    assert(undocumented.isEmpty, s"registered but not in SURVEY §2: $undocumented")
  }

  test("every non-rows-only query has an oracle; rows-only ones do not") {
    val noOracle = documented.filterNot { case (n, _) => SparkEntry.oracleSql.contains(n) }
    val notMarked = noOracle.filterNot { case (_, line) => line.contains("rows-only") }
    assert(notMarked.isEmpty,
      s"no oracle and not marked rows-only: ${notMarked.keySet}")
    val markedButOracled = documented.filter { case (n, line) =>
      line.contains("rows-only") && SparkEntry.oracleSql.contains(n)
    }
    assert(markedButOracled.isEmpty,
      s"marked rows-only but have oracles (drop the marker): ${markedButOracled.keySet}")
  }

  test("oracle keys are a subset of query keys") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("README's entry and operator counts match SparkEntry.queries") {
    val src = Source.fromFile("README.md", "UTF-8")
    val readme = try src.mkString finally src.close()
    val entries = """`SparkEntry\.queries` \((\d+) entries, all of them\s+oracle-checked\)""".r
      .findFirstMatchIn(readme).map(_.group(1).toInt)
    assert(entries.contains(SparkEntry.queries.size),
      s"README says ${entries.getOrElse("?")} entries, all oracle-checked; " +
        s"SparkEntry.queries has ${SparkEntry.queries.size}")
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      "README says every entry is oracle-checked, but some have no oracle")
    val operators = """\((\d+) operators, ALL oracle-checked""".r
      .findFirstMatchIn(readme).map(_.group(1).toInt)
    assert(operators.contains(SparkEntry.queries.size),
      s"README's layout says ${operators.getOrElse("?")} operators; " +
        s"SparkEntry.queries has ${SparkEntry.queries.size}")
  }

  // ---- sources-section pinning (round-7 lesson: prose drift about the
  // source readers was invisible to CI because only §2 query names were
  // parsed) ----

  private lazy val wholeDoc: Seq[String] = {
    val src = Source.fromFile("SURVEY.md", "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  test("every fully-qualified graft class SURVEY.md cites exists") {
    // backticked graft.* tokens whose last segment is a type name
    // (uppercase first letter); conf keys like graft.neardup.strategy
    // are lowercase and skipped
    val ref = """`(graft(?:\.[a-z][a-z0-9]*)*\.[A-Z][A-Za-z0-9]*)""".r
    val cited = wholeDoc.flatMap(l =>
      ref.findAllMatchIn(l).map(_.group(1))).distinct
    assert(cited.nonEmpty, "no graft class citations found — regex broke?")
    val unresolved = cited.filterNot { name =>
      def exists(n: String): Boolean =
        try { Class.forName(n, false, getClass.getClassLoader); true }
        catch { case _: ClassNotFoundException => false }
      exists(name + "$") || exists(name) || {
        // member citations like graft.api.SqlSurface.install
        val p = name.split('.').init.mkString(".")
        p.count(_ == '.') >= 1 && p.exists(_.isUpper) &&
          (exists(p + "$") || exists(p))
      }
    }
    assert(unresolved.isEmpty,
      s"SURVEY.md cites classes that do not exist: $unresolved")
  }

  test("SURVEY's Delta reader-feature claims match the code's supported set") {
    val srcSection = {
      val start = wholeDoc.indexWhere(_.startsWith("### Sources / sinks"))
      val end = wholeDoc.indexWhere(_.startsWith("## §3"))
      wholeDoc.slice(start, end).mkString("\n")
    }
    sources.DeltaRead.SupportedFeatures.foreach { feat =>
      assert(srcSection.contains(feat),
        s"DeltaRead supports reader feature '$feat' but the SURVEY " +
          "sources section never mentions it — doc drift")
    }
    // the round-7 stale claim shape must stay dead: the doc may not say
    // deletion vectors are refused
    assert(!srcSection.matches("(?s).*deletion vectors?\\)? are REFUSED.*"),
      "SURVEY still claims deletion vectors are refused — stale")
  }

  // ---- Iceberg/Hudi/Delta-maintenance feature pinning (round-9: the
  // round-7 prose-drift lesson applied to the other two legs — each
  // capability claim is tripwired to a code marker, so removing the
  // code OR the claim alone fails here) ----

  private def srcSection: String = {
    val start = wholeDoc.indexWhere(_.startsWith("### Sources / sinks"))
    val end = wholeDoc.indexWhere(_.startsWith("## §3"))
    wholeDoc.slice(start, end).mkString("\n")
  }

  private def hasMethod(cls: String, name: String): Boolean =
    try Class.forName(cls, false, getClass.getClassLoader)
      .getDeclaredMethods.exists(_.getName.contains(name))
    catch { case _: ClassNotFoundException => false }
  private def hasClass(cls: String): Boolean =
    try { Class.forName(cls, false, getClass.getClassLoader); true }
    catch { case _: ClassNotFoundException => false }

  test("SURVEY's Iceberg claims match the code (equality deletes, partitioned writes, evolution)") {
    assert(hasClass("graft.sources.IcebergRead$EqDelete") ==
      srcSection.contains("EQUALITY deletes (content=2"),
      "Iceberg equality-delete claim and code marker disagree — doc drift")
    // the round-8 stale shape must stay dead: the doc may not say
    // equality deletes (as a feature) are refused
    assert(!srcSection.contains(
      "EQUALITY deletes (content=2, need sequence-ordered"),
      "SURVEY still carries the round-8 equality-deletes-refused claim")
    assert(hasMethod("graft.sources.IcebergWrite$", "partFields") ==
      srcSection.contains("IDENTITY-PARTITIONED writes"),
      "Iceberg partitioned-write claim and code marker disagree")
    // round 13: merge-on-read verbs reach partitioned tables — the
    // refusal claims must stay dead and the tuple/global story present
    assert(!srcSection.contains(
      "partitioned tables refused by name (delete files would need"),
      "SURVEY still carries the r12 partitioned position-delete refusal")
    assert(hasMethod("graft.sources.IcebergWrite$", "deleteKeys") ==
      srcSection.contains("GLOBAL under the UNPARTITIONED spec"),
      "partitioned deleteKeys global-delete claim and code disagree")
    assert(hasMethod("graft.sources.IcebergWrite$", "keySparkType") ==
      srcSection.contains("lossless widenings cast, lossy refuses"),
      "deleteKeys key-typing claim and code marker disagree")
    assert(srcSection.contains("ADDITIVE SCHEMA EVOLUTION (`append(df, path, mergeSchema=true)`"),
      "Iceberg schema-evolution claim missing from SURVEY")
  }

  test("SURVEY's Hudi MOR claim matches the code (log-block merging)") {
    assert(hasMethod("graft.sources.HudiRead$", "mergeLogs"),
      "HudiRead.mergeLogs gone — update SURVEY's MOR claim")
    assert(srcSection.contains("MERGES avro log blocks"),
      "SURVEY no longer documents MOR log merging — doc drift")
    assert(!srcSection.contains("log-BLOCK merging stays out of scope"),
      "SURVEY still carries the round-8 MOR-refusal claim")
  }

  test("SURVEY's Delta maintenance + CDF claims match the code") {
    Seq("optimize", "vacuum", "cdcActionsFor").foreach { m =>
      assert(hasMethod("graft.sources.DeltaWrite$", m),
        s"DeltaWrite.$m gone — update SURVEY's maintenance/CDF claims")
    }
    Seq("OPTIMIZE", "VACUUM", "_change_data", "ROW-LEVEL CHANGE FEED")
      .foreach { claim =>
        assert(srcSection.contains(claim),
          s"SURVEY sources section lost the '$claim' claim — doc drift")
      }
  }

  test("SURVEY's round-10 claims match the code (v2 ckpt writer, mapped evolution, decimals, Hudi coverage, iceberg changes)") {
    assert(hasMethod("graft.sources.DeltaWrite$", "writeV2Checkpoint") ==
      srcSection.contains("WRITTEN since round 10"),
      "Delta v2-checkpoint writer claim and code marker disagree")
    // the round-9 stale shape must stay dead
    assert(!srcSection.contains(
      "WRITER still refuses v2Checkpoint tables"),
      "SURVEY still carries the round-9 v2-writer-refusal claim")
    assert(!srcSection.contains(
      "mergeSchema evolution on mapped tables stays refused"),
      "SURVEY still carries the round-9 mapped-evolution refusal claim")
    assert(srcSection.contains("col-<uuid>"),
      "SURVEY lost the mapped-evolution minting claim — doc drift")
    assert(srcSection.contains("INCLUDING decimals"),
      "SURVEY lost the Iceberg decimal-writer claim — doc drift")
    assert(hasMethod("graft.sources.HudiRead$",
        "verifyArchivalCoverage") ==
      srcSection.contains("PER-FILE-GROUP COVERAGE CHECK"),
      "Hudi archived-coverage claim and code marker disagree")
    assert(hasMethod("graft.sources.HudiRead$", "decodeDeleteBlock") ==
      srcSection.contains("DELETE_BLOCKs decode too"),
      "Hudi DELETE_BLOCK claim and code marker disagree")
    assert(hasMethod("graft.sources.IcebergRead$", "pairChanges") ==
      srcSection.contains("graft_iceberg_changes"),
      "Iceberg change-feed claim and code marker disagree")
    assert(srcSection.contains("`replacecommit` instants READ since round 10"),
      "SURVEY lost the Hudi replacecommit-read claim — doc drift")
    assert(!srcSection.contains(
      "`replacecommit` instants (both namings), non-JSON"),
      "SURVEY still carries the replacecommit-refusal claim")
    assert(hasMethod("graft.sources.IcebergWrite$", "typeString") ==
      srcSection.contains("NESTED struct/array/map AND binary columns"),
      "Iceberg nested-writer claim and code marker disagree")
    assert(hasMethod("graft.sources.DeltaWrite$", "restore") ==
      srcSection.contains("round 10 adds RESTORE"),
      "Delta RESTORE claim and code marker disagree")
    assert(hasMethod("graft.sources.IcebergWrite$", "rollbackTo") ==
      srcSection.contains("plus SNAPSHOT ROLLBACK"),
      "Iceberg rollback claim and code marker disagree")
    assert(hasClass("graft.sources.HudiWrite$") ==
      srcSection.contains("Apache Hudi COPY_ON_WRITE WRITER"),
      "Hudi writer claim and code marker disagree")
    assert(hasMethod("graft.sources.HudiRead$", "readWhere") ==
      srcSection.contains("column-stats skipping via `readWhere`"),
      "Hudi readWhere claim and code marker disagree")
    assert(!srcSection.contains("no column-stats skipping"),
      "SURVEY still carries the Hudi no-skipping claim")
    assert(!srcSection.contains("nested/binary types and non-identity " +
      "transforms refused by name"),
      "SURVEY still carries the nested/binary-refusal claim")
  }

  test("SURVEY's round-11 claims match the code (Hudi compaction, retention)") {
    assert(hasMethod("graft.sources.HudiWrite$", "compact") ==
      srcSection.contains("MOR COMPACTION"),
      "Hudi compaction claim and code marker disagree — doc drift")
    assert(hasMethod("graft.sources.HudiWrite$", "clean") ==
      srcSection.contains("RETENTION verbs (round 11)"),
      "Hudi clean claim and code marker disagree — doc drift")
    assert(hasMethod("graft.sources.HudiWrite$", "archive") ==
      srcSection.contains("REFUSES AND ROLLS BACK"),
      "Hudi archive claim and code marker disagree — doc drift")
    assert(hasMethod("graft.sources.HudiRead$", "timelineState") ==
      srcSection.contains("the reader's timelineState gate"),
      "Hudi clean-gate claim and code marker disagree — doc drift")
    assert(hasMethod("graft.sources.HudiWrite$", "upsertLogBatch") ==
      srcSection.contains("StreamOps.hudiUpsertStream"),
      "Hudi streaming MOR ingest claim and code marker disagree")
    assert(hasClass("graft.sources.IcebergTransforms$") ==
      srcSection.contains("PARTITION TRANSFORMS (round 11"),
      "Iceberg partition-transform claim and code marker disagree")
    assert(hasMethod("graft.sources.IcebergRead$", "partMayMatch") ==
      srcSection.contains("STORED PARTITION TUPLES"),
      "Iceberg transform-pruning claim and code marker disagree")
    assert(hasMethod("graft.sources.HudiWrite$", "syncMetadata") ==
      srcSection.contains("graft-colstats-v1"),
      "Hudi metadata-table claim and code marker disagree")
    assert(hasMethod("graft.sources.HudiRead$", "readWhereMeta") ==
      srcSection.contains("pruneReportMeta"),
      "Hudi meta-pruning claim and code marker disagree")
    assert(hasMethod("graft.sources.HudiWrite$", "cluster") ==
      srcSection.contains("CLUSTERING (round 11"),
      "Hudi clustering claim and code marker disagree")
    assert(hasMethod("graft.sources.IcebergWrite$", "rewriteDataFiles") ==
      srcSection.contains("REWRITE DATA FILES"),
      "Iceberg rewrite claim and code marker disagree")
    assert(hasMethod("graft.sources.HudiWrite$", "insertOverwrite") ==
      srcSection.contains("the SECOND replacecommit producer"),
      "Hudi insertOverwrite claim and code marker disagree")
  }

  test("SURVEY's round-12 claims match the code (Delta DVs, calendar transforms, ADVICE fixes)") {
    assert(hasMethod("graft.sources.DeltaWrite$", "deleteDv") ==
      srcSection.contains("DELETION-VECTOR AUTHORING"),
      "Delta DV-authoring claim and code marker disagree — doc drift")
    assert(hasMethod("graft.sources.DeltaWrite$", "upsertDv") ==
      srcSection.contains("the merge-on-read MERGE"),
      "Delta upsertDv claim and code marker disagree")
    assert(hasMethod("graft.sources.DeltaRead$", "roaringSerialize") ==
      srcSection.contains("the exact inverse of the round-8 decoder"),
      "DV serializer claim and code marker disagree")
    assert(hasMethod("graft.sources.DeltaWrite$", "deleteDvBatch") ==
      srcSection.contains("BATCH IDENTITY, not predicate idempotence"),
      "DV batch-delete claim and code marker disagree")
    assert(hasMethod("graft.streaming.StreamOps$", "deltaForgetStream") ==
      srcSection.contains("RIGHT-TO-BE-FORGOTTEN shape"),
      "forget-stream claim and code marker disagree")
    assert(hasMethod("graft.sources.IcebergWrite$", "deleteKeys") ==
      srcSection.contains("the PURE equality-delete snapshot"),
      "Iceberg deleteKeys claim and code marker disagree")
    assert(hasMethod("graft.sources.IcebergTransforms$", "hourOfMicros") ==
      srcSection.contains("round 12 completes the calendar family"),
      "Iceberg hour/month/year claim and code marker disagree")
    assert(hasMethod("graft.sources.IcebergTransforms$", "monthOfDays") ==
      srcSection.contains("proleptic-Gregorian java.time"),
      "Iceberg month fold claim and code marker disagree")
    // round-12 ADVICE fixes
    assert(srcSection.contains("FOREIGN clean record leaves " +
      "latest-snapshot reads untouched"),
      "Hudi foreign-clean claim missing")
    assert(srcSection.contains("the no-churn guard"),
      "Hudi cluster bin-pack-within-partitions claim missing")
    assert(srcSection.contains("cached per (path, appId)"),
      "Hudi archived-watermark cache claim missing")
    // round-12 layout + listing verbs
    assert(hasMethod("graft.sources.HudiRead$", "readWhereMeta") ==
      srcSection.contains("serve the FILE LISTING too"),
      "Hudi metadata file-listing claim and code marker disagree")
    assert(hasMethod("graft.sources.DeltaWrite$", "zRange") ==
      srcSection.contains("Z-ORDER OPERATING POINT"),
      "Delta zorder claim and code marker disagree")
    assert(srcSection.contains("SORTED layout rewrite"),
      "Iceberg sortBy rewrite claim missing")
    assert(hasMethod("graft.streaming.StreamOps$", "hudiUpsertStreamOf") ==
      srcSection.contains("hudiUpsertStreamOf"),
      "general MOR sink claim and code marker disagree")
    // round-13 additions
    assert(hasMethod("graft.streaming.StreamOps$",
      "nearDupPairsBoundedStream") ==
      wholeDoc.exists(_.contains("nearDupPairsBoundedStream")),
      "bounded streaming near-dup claim and code marker disagree")
    assert(hasMethod("graft.sources.DeltaRead$", "dvUid") ==
      srcSection.contains("(path, dvUniqueId)"),
      "keyed DV tombstone claim and code marker disagree")
    assert(hasClass("graft.functions.ZOrderN") ==
      srcSection.contains("ARITY-N WITH STRING DIMENSIONS"),
      "arity-N zorder claim and code marker disagree")
    assert(hasMethod("graft.sources.HudiRead$", "decodeParquetBlock") ==
      srcSection.contains("PARQUET_DATA_BLOCKs decode too"),
      "Hudi parquet log block claim and code marker disagree")
    assert(hasMethod("graft.sources.IcebergRead$", "decodePuffinDv") ==
      srcSection.contains("DELETION VECTORS, read AND write"),
      "Iceberg puffin DV read claim and code marker disagree")
    assert(hasMethod("graft.sources.IcebergWrite$", "deleteDv") ==
      srcSection.contains("IcebergWrite.deleteDv"),
      "Iceberg puffin DV write claim and code marker disagree")
    assert(hasMethod("graft.streaming.StreamOps$", "cdcFanoutStream") ==
      srcSection.contains("THREE-LEG CDC FAN-OUT"),
      "CDC fan-out claim and code marker disagree")
    assert(hasMethod("graft.sources.DeltaWrite$", "upsertBatch") ==
      srcSection.contains("DeltaWrite.upsertBatch"),
      "Delta upsertBatch claim and code marker disagree")
  }
}
