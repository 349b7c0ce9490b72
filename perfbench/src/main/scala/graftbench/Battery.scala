package graftbench

import java.io.{File, PrintWriter}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `SparkEntry.queries` battery on the fixed tables under
  * `data/battery`, in name order. Each entry's full output is consumed
  * through an order-independent checksum over all columns and compared
  * with the committed value; a thrown or mismatched entry counts as a
  * failure and is never recorded as a time.
  *
  * Every traced run makes one pass over a fixed subset: the entries the
  * ROADMAP's carried items target, and one SQL entry. The whole 78-entry
  * battery takes 75 s cold and 31 s warm on a 4-core host, more than one
  * run of the benchmark may take, so it is no workload of its own; the
  * engine and mutation entries left out exercise what the serve workload
  * measures directly. */
object Battery {
  /** Every entry the ROADMAP's carried items target, and one SQL entry. */
  val Entries: Seq[String] = Seq("ann_ivf", "ann_ivfpq", "contamination", "dedup_clusters",
    "dedup_jaccard", "keyword_extract", "q1_agg")

  val Targeted: Seq[String] = Entries.filterNot(_ == "q1_agg")

  def family(name: String): String = name match {
    case n if n.startsWith("dedup_") => "dedup"
    case n if n.startsWith("ann_") => "ann"
    case n if n.matches("q\\d_.*") => "sql"
    case _ => "text"
  }
  val Families: Seq[String] = Entries.map(family).distinct.sorted

  val Tables: Seq[String] = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  def tableDir(data: File): String = new File(data, "battery").getAbsolutePath
  private def checksumFile(data: File) = new File(data, "battery_checksums.tsv")

  /** Floats and doubles are rounded to 4 places (as tools/oracle_check.py
    * rounds them), inside arrays too, so partitioning-dependent summation
    * order cannot change the value. */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 4) + lit(0.0)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case _ => c
  }

  /** (rows, Σ xxhash64 of each normalized row): independent of row order. */
  def checksum(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.schema.fields.toIndexedSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    (r.getLong(0), BigDecimal(Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)))
  }

  def expected(data: File): Map[String, (Long, BigDecimal)] =
    Files.readAllLines(checksumFile(data).toPath).asScala.map(_.split('\t')).map { r =>
      r(0) -> (r(1).toLong, BigDecimal(r(2)))
    }.toMap

  /** Writes the committed checksums of all entries (`--workload write-battery`). */
  def write(ctx: Ctx): Unit = {
    val spark = ctx.session(4)
    val dir = tableDir(ctx.args.data)
    val w = new PrintWriter(checksumFile(ctx.args.data), "UTF-8")
    try graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, f) =>
      val (rows, sum) = checksum(f(spark, dir))
      w.println(s"$name\t$rows\t$sum")
    } finally w.close()
  }

  /** One pass over `names`: per-entry seconds of the entries that ran and
    * matched their committed checksum. */
  def pass(ctx: Ctx, spark: SparkSession, names: Seq[String],
      want: Map[String, (Long, BigDecimal)]): Seq[(String, Double)] = {
    val dir = tableDir(ctx.args.data)
    names.flatMap { name =>
      val f = graft.SparkEntry.queries(name)
      ctx.timedOp(s"battery entry $name") {
        Trace.request(Trace.span(s"SparkEntry.$name", "pipeline")(checksum(f(spark, dir))))
      }.flatMap { case (got, sec) =>
        if (ctx.check(s"battery entry $name output checksum (got $got, want ${want.get(name)})")(
          want.get(name).contains(got))) Some(name -> sec) else None
      }
    }
  }
}
