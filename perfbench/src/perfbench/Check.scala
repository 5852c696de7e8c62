package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks. A query's output is reduced to a digest — row count, an
  * order-independent row hash and the schema — and compared with the digest
  * of the oracle-checked reference output stored in `reference.tsv`. */
object Check {
  case class Digest(rows: Long, hash: String, schema: String)

  def schemaOf(df: DataFrame): String =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  private def hashable(c: Column, t: DataType): Column =
    if (hasMap(t)) to_json(c) else c

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Row count plus the sum of per-row xxhash64 values (exact, as a
    * decimal): independent of row order and partitioning. */
  def digest(df: DataFrame): Digest = {
    val cols = df.schema.fields.toSeq.map(f =>
      hashable(col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    val hash = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    Digest(r.getLong(0), hash, schemaOf(df))
  }

  /** Empty when `got` matches `want`, else what differs. */
  def compare(name: String, got: Digest, want: Option[Digest]): Option[String] = want match {
    case None => Some(s"$name: no reference digest")
    case Some(w) =>
      val diffs = Seq(
        if (got.rows != w.rows) Some(s"rows ${got.rows} != ${w.rows}") else None,
        if (got.schema != w.schema) Some(s"schema ${got.schema} != ${w.schema}") else None,
        if (got.hash != w.hash) Some(s"hash ${got.hash} != ${w.hash}") else None
      ).flatten
      if (diffs.isEmpty) None else Some(s"$name: ${diffs.mkString("; ")}")
  }

  def loadReference(file: File): Map[String, Digest] =
    new String(Files.readAllBytes(file.toPath), UTF_8).split('\n').toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, rows, hash, schema) = l.split('\t')
        name -> Digest(rows.toLong, hash, schema)
      }.toMap

  /** Reference mode: digest every benchmark query's output in a
    * `graft.Verify` dump directory and write `reference.tsv`. */
  def writeReference(spark: SparkSession, verifyDir: String, out: File): Unit = {
    val names = Workloads.all.flatMap(_.queries).distinct.sorted
    val lines = names.map { n =>
      val d = digest(spark.read.parquet(s"$verifyDir/$n"))
      Seq(n, d.rows.toString, d.hash, d.schema).mkString("\t")
    }
    Files.write(out.toPath, ("# query\trows\txxhash64 sum\tschema\n" +
      lines.mkString("", "\n", "\n")).getBytes(UTF_8))
  }

  /** The image step's output: one tensor per decodable corpus image, every
    * tensor [3,224,224] with values in [0,1], at most `batch` per file. */
  def tensors(spark: SparkSession, path: String, expected: Int, batch: Int): Option[String] = {
    val perFile = spark.read.parquet(path).groupBy(input_file_name()).agg(
        count(lit(1)).as("n"),
        sum(when(col("shape") === array(lit(3), lit(224), lit(224))
          && size(col("data")) === 3 * 224 * 224, 0).otherwise(1)).as("bad"),
        min(array_min(col("data"))).as("lo"),
        max(array_max(col("data"))).as("hi"))
      .collect()
    val n = perFile.map(_.getAs[Long]("n")).sum
    val bad = perFile.map(_.getAs[Long]("bad")).sum
    val lo = perFile.map(_.getAs[Float]("lo")).minOption
    val hi = perFile.map(_.getAs[Float]("hi")).maxOption
    val most = perFile.map(_.getAs[Long]("n")).maxOption.getOrElse(0L)
    val problems = Seq(
      if (n != expected) Some(s"$n tensors, expected $expected") else None,
      if (bad != 0) Some(s"$bad tensors not [3,224,224]") else None,
      if (lo.exists(_ < 0f) || hi.exists(_ > 1f)) Some(s"values outside [0,1]: $lo..$hi") else None,
      if (most > batch) Some(s"$most records in one file, limit $batch") else None
    ).flatten
    if (problems.isEmpty) None else Some(s"image_etl: ${problems.mkString("; ")}")
  }
}
