package graft

import graft.model.JobState
import graft.request.Protocol

/** CLI — same flag surface as the reference's argparse front-end
  * (cli.py:22-149): one of --schema/--full/--table picks the mode,
  * directives flatten from repeatable flags, remaps are colon-
  * delimited, and the exit code reflects the final job state.
  *
  * {{{
  * graft.Main export --source-dir /data/sf0.001 --target-dir /tmp/out \
  *   --table lineitem --parallel 4 --compression-algorithm HIGH
  * graft.Main import --source-dir /tmp/out --target-dir /tmp/in \
  *   --full --remap-schema main:stage --table-exists-action REPLACE
  * }}}
  */
object Main {

  private def usage(): Nothing = {
    System.err.println(
      """usage: graft <export|import|sql_file> --source-dir DIR --target-dir DIR
        |  mode (one of):  --schema NAME | --full | --table NAME[,NAME...]
        |                  --tablespace PREFIX[,PREFIX...]
        |  directives:     --parallel N  --compression-algorithm BASIC|LOW|MEDIUM|HIGH
        |                  --compression DATA_ONLY|METADATA_ONLY|ALL|NONE
        |                  --table-exists-action TRUNCATE|REPLACE|APPEND|SKIP
        |                  --remap-schema OLD:NEW  --remap-tablespace OLD:NEW
        |                  --exclude OBJECT_TYPE  --estimate-only  --delete-files
        |                  --estimate BLOCKS|STATISTICS  --keep-master
        |                  --include-metadata 0|1  --query PREDICATE
        |                  --dump-format parquet|orc|json|csv
        |                  --flashback-time ISO  --flashback-scn N
        |                  --tag TAG  --no-wait
        |""".stripMargin)
    sys.exit(2)
  }

  /** Flags that each send one directive of their value. */
  private val valueFlags = Map(
    "--parallel" -> "PARALLEL",
    "--compression" -> "COMPRESSION",
    "--compression-algorithm" -> "COMPRESSION_ALGORITHM",
    "--estimate" -> "ESTIMATE",
    "--include-metadata" -> "INCLUDE_METADATA",
    "--query" -> "QUERY",
    "--dump-format" -> "DUMP_FORMAT",
    "--flashback-scn" -> "FLASHBACK_SCN",
    "--flashback-time" -> "FLASHBACK_TIME",
    "--table-exists-action" -> "TABLE_EXISTS_ACTION",
    "--exclude" -> "EXCLUDE_OBJECT_TYPE")

  /** Flags that each send one directive set to "1". */
  private val switches = Map(
    "--keep-master" -> "KEEP_MASTER",
    "--estimate-only" -> "ESTIMATE_ONLY",
    "--delete-files" -> "DELETE_FILES")

  /** Flatten CLI flags into protocol directive dicts (cli.py:152-226). */
  private[graft] def parseArgs(args: Array[String])
      : (String, Map[String, String], Seq[Map[String, String]], Boolean) = {
    if (args.isEmpty) usage()
    // impdp/expdp aliases, cli.py:36,83-88
    val op = args.head.toLowerCase match {
      case "expdp" => "export"
      case "impdp" => "import"
      case other => other
    }
    if (!Seq("export", "import", "sql_file").contains(op)) usage()
    var opts = Map.empty[String, String]
    var directives = Seq.empty[Map[String, String]]
    var wait = true
    def remap(name: String, v: String): Map[String, String] = {
      val (from, to) = graft.model.Util.parseColonDelimited(v)
      Map("name" -> name, "old_value" -> from, "value" -> to)
    }
    var i = 1
    while (i < args.length) {
      args(i) match {
        case "--source-dir" => opts += "source_dir" -> args(i + 1); i += 2
        case "--target-dir" => opts += "target_dir" -> args(i + 1); i += 2
        case "--schema" => opts += "mode" -> "SCHEMA"; opts += "schema" -> args(i + 1); i += 2
        case "--full" => opts += "mode" -> "FULL"; i += 1
        case "--table" =>
          opts += "mode" -> "TABLE"
          directives :+= Map("name" -> "INCLUDE_TABLE", "value" -> args(i + 1))
          i += 2
        case "--tablespace" =>
          opts += "mode" -> "TABLESPACE"
          directives :+= Map("name" -> "INCLUDE_TABLESPACE", "value" -> args(i + 1))
          i += 2
        case f if valueFlags.contains(f) =>
          directives :+= Map("name" -> valueFlags(f), "value" -> args(i + 1)); i += 2
        case f if switches.contains(f) =>
          directives :+= Map("name" -> switches(f), "value" -> "1"); i += 1
        case "--remap-schema" => directives :+= remap("REMAP_SCHEMA", args(i + 1)); i += 2
        case "--remap-tablespace" => directives :+= remap("REMAP_TABLESPACE", args(i + 1)); i += 2
        case "--tag" => opts += "tag" -> args(i + 1); i += 2
        case "--no-wait" => wait = false; i += 1
        // generic escape hatch (cli.py:77-79): NAME:VALUE, or
        // NAME:OLD:NEW for remap-style directives. Only REMAP_* names
        // take the 3-way split — any other value keeps its colons
        // verbatim (QUERY predicates contain timestamps, remap targets
        // contain schema-qualified names)
        case "--directive" =>
          args(i + 1).split(":", 2) match {
            case Array(n, rest) if n.toUpperCase.startsWith("REMAP") &&
                rest.contains(":") =>
              val Array(ov, v) = rest.split(":", 2)
              directives :+= Map("name" -> n, "old_value" -> ov, "value" -> v)
            case Array(n, v) => directives :+= Map("name" -> n, "value" -> v)
            case _ => System.err.println(
              s"--directive expects NAME:VALUE, got ${args(i + 1)}"); usage()
          }
          i += 2
        case other => System.err.println(s"unknown flag: $other"); usage()
      }
    }
    if (!opts.contains("source_dir")) usage()
    if (!opts.contains("mode")) usage()
    (op, opts, directives, wait)
  }

  private[graft] def buildRequestJson(op: String, opts: Map[String, String],
      directives: Seq[Map[String, String]], wait: Boolean): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    val conn = root.putObject("connection")
    conn.put("source_dir", opts("source_dir"))
    conn.put("target_dir", opts.getOrElse("target_dir", ""))
    conn.put("schema", opts.getOrElse("schema", "main"))
    root.put("request", "SUBMIT")
    val payload = root.putObject("payload")
    payload.put("operation", op.toUpperCase)
    payload.put("mode", opts("mode"))
    payload.put("wait", wait)
    opts.get("tag").foreach(payload.put("tag", _))
    val ds = payload.putArray("directives")
    directives.foreach { d =>
      val n = ds.addObject()
      d.foreach { case (k, v) => n.put(k, v) }
    }
    mapper.writeValueAsString(root)
  }

  def main(args: Array[String]): Unit = {
    val (op, opts, directives, wait) = parseArgs(args)
    val spark = Sessions.build("graft-cli")
    try {
      val response = Protocol.handle(spark,
        buildRequestJson(op, opts, directives, wait))
      println(response.toJson)
      // print the job logfile to stderr on completion (cli.py:136-148)
      if (wait)
        opts.get("target_dir").filter(_.nonEmpty).foreach { tgt =>
          graft.job.DataPumpJob.getLogfile(spark, tgt)
            .foreach(System.err.print)
        }
      val exit = JobState.fromString(response.state) match {
        case JobState.Completed => 0
        case JobState.CompletedWithErrors => 0 // import tolerance, test_import.py:179
        case JobState.Executing => 0
        case _ => 1
      }
      sys.exit(exit)
    } finally spark.stop()
  }
}
