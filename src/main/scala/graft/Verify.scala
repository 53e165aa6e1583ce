package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [query...] — named
  * queries dump only those (and only their oracle SQL), the dev loop
  * that `python3 tools/check_oracle.py <sfDir> <outDir>` closes without
  * re-running the whole catalog. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Per-query value digest, computed IN SPARK over the parquet the
    * driver will read: row count plus, per column, the null count and
    * an order-independent XOR of xxhash64(value). A red driver row can
    * then be localized to a single column offline with zero driver
    * cooperation — the digest names which column's values diverge
    * (the r10/r11 t19 episode took two rounds without this). */
  private[graft] def digestJson(spark: SparkSession, outDir: String,
                                names: Seq[String]): String = {
    import org.apache.spark.sql.functions._
    val entries = names.flatMap { name =>
      try {
        val back = spark.read.parquet(s"$outDir/$name")
        val aggs = count(lit(1)).as("__rows") +:
          back.schema.fields.toSeq.flatMap { f =>
            Seq(expr(s"bit_xor(xxhash64(`${f.name}`))").as(s"__x__${f.name}"),
                sum(when(col(f.name).isNull, 1L).otherwise(0L))
                  .as(s"__n__${f.name}"))
          }
        val r = back.agg(aggs.head, aggs.tail: _*).head()
        val rows = r.getLong(0)
        val cols = back.schema.fields.toSeq.map { f =>
          val x = Option(r.get(r.fieldIndex(s"__x__${f.name}")))
            .map(_.toString).getOrElse("null")
          val n = Option(r.get(r.fieldIndex(s"__n__${f.name}")))
            .map(_.toString).getOrElse("0")
          s"${q(f.name)}: {\"xor64\": $x, \"nulls\": $n}"
        }.mkString("{", ", ", "}")
        Some(s"${q(name)}: {\"rows\": $rows, \"cols\": $cols}")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] digest for $name failed: ${e.getMessage}")
        None
      }
    }
    entries.mkString("{", ",\n", "}")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val sfDir = args(0); val outDir = args(1)
    val names = args.drop(2).toSet
    names.foreach(n =>
      require(SparkEntry.queries.contains(n), s"unknown query '$n'"))
    def selected(name: String) = names.isEmpty || names(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(e => selected(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.filter(e => selected(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Environment sidecar: when a hash diverges between the builder's
    // local check and the driver's board (the round-10 t19 episode),
    // the first question is "same engines?" — make it answerable from
    // the artifacts alone. The DuckDB half comes from check_oracle.py.
    val env = Map(
      "spark_version" -> spark.version,
      "java_version" -> sys.props.getOrElse("java.version", "?"),
      "java_vendor" -> sys.props.getOrElse("java.vendor", "?"),
      "scala_version" -> util.Properties.versionNumberString,
      "timezone" -> spark.conf.get("spark.sql.session.timeZone"),
      "ansi" -> spark.conf.getOption("spark.sql.ansi.enabled")
        .getOrElse("default"))
    Files.writeString(Paths.get(s"$outDir/spark_env.json"),
      env.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/value_digests.json"),
      digestJson(spark, outDir,
        SparkEntry.queries.keys.filter(selected).toSeq.sorted))
    spark.stop()
  }
}
