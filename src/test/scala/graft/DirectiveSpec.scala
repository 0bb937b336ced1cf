package graft

import graft.directives._
import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

class DirectiveSpec extends AnyFunSuite {

  test("TABLE_EXISTS_ACTION maps 4-way onto SaveMode") {
    assert(TableExistsAction.modes("TRUNCATE") == ((SaveMode.Overwrite, true)))
    assert(TableExistsAction.modes("REPLACE") == ((SaveMode.Overwrite, false)))
    assert(TableExistsAction.modes("APPEND") == ((SaveMode.Append, false)))
    assert(TableExistsAction.modes("SKIP") == ((SaveMode.Ignore, false)))
    intercept[IllegalArgumentException](TableExistsAction("MERGE"))
  }

  test("registry instantiates directives by JSON name (request.py:163-169 parity)") {
    assert(DirectiveCompiler.fromJson("INCLUDE_SCHEMA", Some("HR"), None) ==
      IncludeSchema("HR"))
    assert(DirectiveCompiler.fromJson("PARALLEL", Some("4"), None) == Parallel(4))
    assert(DirectiveCompiler.fromJson("REMAP_SCHEMA", Some("HR2"), Some("HR")) ==
      RemapSchema("HR", "HR2"))
    assert(DirectiveCompiler.fromJson("OID", Some("false"), None) ==
      TransformDirective("OID", "false"))
    assert(DirectiveCompiler.fromJson("DELETE_FILES", Some("1"), None) ==
      DeleteFiles())
    intercept[IllegalArgumentException](
      DirectiveCompiler.fromJson("NO_SUCH", Some("x"), None))
    intercept[IllegalArgumentException](
      DirectiveCompiler.fromJson("REMAP_SCHEMA", Some("B"), None)) // no old
  }

  test("validation rejects out-of-domain values eagerly (pydantic parity)") {
    intercept[IllegalArgumentException](Compression("MAYBE"))
    intercept[IllegalArgumentException](CompressionAlgorithm("TURBO"))
    intercept[IllegalArgumentException](Parallel(0))
    intercept[IllegalArgumentException](FlashbackTime("not-iso"))
    intercept[IllegalArgumentException](Logtime("SOMETIMES"))
  }

  test("TARGET_FILE_SIZE parses FILESIZE-style units and compiles to a byte bound") {
    assert(TargetFileSize.parse("512") == TargetFileSize(512L))
    assert(TargetFileSize.parse("64kb") == TargetFileSize(64L << 10))
    assert(TargetFileSize.parse("128MB") == TargetFileSize(128L << 20))
    assert(TargetFileSize.parse("1GB") == TargetFileSize(1L << 30))
    assert(TargetFileSize.parse("2TB") == TargetFileSize(2L << 40))
    assert(DirectiveCompiler.fromJson("TARGET_FILE_SIZE", Some("128MB"), None) ==
      TargetFileSize(128L << 20))
    assert(DirectiveCompiler.compile(Seq(TargetFileSize(7L))).targetFileBytes ==
      Some(7L))
    intercept[graft.model.Exceptions.BadRequest](TargetFileSize.parse("fast"))
    intercept[IllegalArgumentException](TargetFileSize(0L))
    // overflow is a rejected request, never a silently wrapped Long
    intercept[graft.model.Exceptions.BadRequest](
      TargetFileSize.parse("16777217TB")) // (2^24+1)<<40 wraps to 1TB
    intercept[graft.model.Exceptions.BadRequest](
      TargetFileSize.parse("99999999999999999999")) // > Long digits
  }

  test("compile: filters restrict object selection") {
    val settings = DirectiveCompiler.compile(Seq(IncludeTable(Seq("lineitem", "orders"))))
    assert(settings.tables == Some(Set("lineitem", "orders")))
    assert(DirectiveCompiler.compile(Nil).tables.isEmpty)
    assert(DirectiveCompiler.compile(Seq(ExcludeObjectType("TABLE"))).tablesExcluded)
    assert(!DirectiveCompiler.compile(Seq(ExcludeObjectType("INDEX"))).tablesExcluded)
  }

  test("compile: compression maps to writer codec options") {
    assert(DirectiveCompiler.compile(Seq(Compression("NONE")))
      .writerOptions == Map("compression" -> "none"))
    assert(DirectiveCompiler.compile(Seq(CompressionAlgorithm("HIGH")))
      .writerOptions == Map("compression" -> "zstd"))
  }

  test("compile: physical switches are accepted-and-ignored, never fail") {
    PhysicalSwitch.names.foreach { n =>
      assert(DirectiveCompiler.compile(Seq(PhysicalSwitch(n, "whatever"))) ==
        JobSettings())
    }
  }

  test("compile: parallel/flashback/estimate effects") {
    assert(DirectiveCompiler.compile(Seq(Parallel(8))).parallel == 8)
    assert(DirectiveCompiler.compile(Seq(FlashbackScn(12345L)))
      .snapshotPin == Some("12345"))
    assert(DirectiveCompiler.compile(Seq(EstimateOnly(true))).estimateOnly)
  }

  test("compile: repeated directives resolve per field") {
    val s = DirectiveCompiler.compile(Seq(
      Parallel(2), Parallel(8),
      DumpFormat("ORC"), DumpFormat("csv"),
      TableExistsAction("APPEND"), TableExistsAction("TRUNCATE"),
      FlashbackTime("2024-01-01T00:00:00Z"), FlashbackScn(7L),
      TargetFileSize(64L), TargetFileSize(128L),
      IncludeMetadata(false), IncludeMetadata(true),
      Compression("ALL"), CompressionAlgorithm("HIGH"),
      IncludeTable(Seq("Region")), IncludeTable(Seq("nation")),
      IncludeSchema("hr"), IncludeSchema("FIN"),
      EstimateOnly(false), MasterOnly(true), EstimateOnly(false),
      KeepMaster(true), KeepMaster(false),
      PartitionOptions("DEPARTITION"), PartitionOptions("NONE"),
      RemapSchema("a", "b"), RemapSchema("A", "c"),
      RemapTable("T", "U"), RemapTablespace("warm", "cold"),
      Query("x > 1"), Sample(50.0),
      DeleteFiles()))
    // the first of each slot wins
    assert(s.parallel == 2 && s.dumpFormat == "orc")
    assert(s.saveMode == org.apache.spark.sql.SaveMode.Append && !s.truncate)
    assert(s.snapshotPin == Some("2024-01-01T00:00:00Z"))
    assert(s.targetFileBytes == Some(64L) && !s.includeMetadata)
    // a later option of the same key replaces an earlier one
    assert(s.writerOptions == Map("compression" -> "zstd"))
    // INCLUDE_TABLE lists unite; INCLUDE_SCHEMA keeps directive order
    assert(s.tables == Some(Set("region", "nation")))
    assert(s.schemas == Seq("hr", "FIN"))
    // the switches hold when any directive sets them
    assert(s.estimateOnly && s.keepMaster && s.departition && s.deleteFiles)
    // transforms in directive order; the later remap of a name wins
    assert(s.transforms.size == 2)
    assert(s.schemaOf("a") == "c" && s.schemaOf("other") == "other")
    assert(s.tableOf("t") == "u")
    assert(s.storageOf("/x/warm/y") == "/x/cold/y")
    // defaults when nothing is set
    val d = DirectiveCompiler.compile(Nil)
    assert(d.parallel == 1 && d.dumpFormat == "parquet" && d.includeMetadata &&
      d.saveMode == org.apache.spark.sql.SaveMode.ErrorIfExists &&
      d.snapshotPin.isEmpty && !d.deleteFiles)
  }
}
