package graft.pipebench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, salt, row
  * coordinates), so one seed always yields the same rows in the same
  * order, and the staged parquet files are byte-identical. */
object Gen {

  /** The sf0.1 `documents` vocabulary plus four Gopher stopwords, so
    * that some documents pass the stopword rule. */
  val vocab: Seq[String] = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
    "and", "of", "to")

  def hash(seed: Long, salt: Int, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)

  /** Uniform integer in [0, n). */
  def uniform(seed: Long, salt: Int, n: Long, cs: Column*): Column =
    pmod(hash(seed, salt, cs: _*), lit(n))

  private def pick(seed: Long, salt: Int, words: Seq[String], cs: Column*): Column =
    element_at(array(words.map(lit): _*),
      (uniform(seed, salt, words.size.toLong, cs: _*) + 1).cast("int"))

  /** `n` tokens drawn from `vocab`, keyed by the row's `key` column. */
  def text(seed: Long, salt: Int, key: Column, n: Column): Column =
    array_join(transform(sequence(lit(1), n), i => pick(seed, salt, vocab, key, i)), " ")

  /** The sf0.1 `documents` shape: 10–100 tokens, 40% `en`. */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val u = uniform(seed, 3, 100, id)
    spark.range(0, n, 1, 4).select(
      id.as("doc_id"),
      text(seed, 1, id, (uniform(seed, 2, 91, id) + 10).cast("int")).as("text"),
      when(u < 40, "en").when(u < 55, "zh").when(u < 70, "es")
        .when(u < 85, "fr").otherwise("de").as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
  }

  /** Near-duplicate families: a 60-token base text per family, and
    * 2–5 members that each replace one token of it (member 0 is the
    * base). Ids start at `firstId`, ten per family. */
  def nearDupFamilies(spark: SparkSession, seed: Long, families: Long,
      firstId: Long): DataFrame = {
    val f = col("id")
    val m = col("member")
    val base = transform(sequence(lit(0), lit(59)), i => pick(seed, 10, vocab, f, i))
    val at = uniform(seed, 11, 60, f, m)
    spark.range(0, families, 1, 4)
      .withColumn("member",
        explode(sequence(lit(0L), uniform(seed, 12, 4, f) + 1)))
      .withColumn("toks", base)
      .select(
        (lit(firstId) + f * 10 + m).as("doc_id"),
        array_join(
          transform(col("toks"), (t, i) =>
            when(m > 0 && i === at, pick(seed, 13, vocab, f, m)).otherwise(t)),
          " ").as("text"),
        f.as("family"))
  }

  /** `n` copies of one 40-token boilerplate text, ids from `firstId`. */
  def boilerplate(spark: SparkSession, seed: Long, n: Long, firstId: Long): DataFrame =
    spark.range(0, n, 1, 4).select(
      (lit(firstId) + col("id")).as("doc_id"),
      text(seed, 14, lit(0L), lit(40)).as("text"))

  /** Writes `df` to `path` as `files` parquet files. */
  def write(df: DataFrame, path: String, files: Int = 4): Unit =
    df.coalesce(files).write.mode("overwrite").parquet(path)

  private def dataFiles(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else if (dir.isFile) Seq(dir)
    else dir.listFiles.toSeq.sortBy(_.getName).flatMap(dataFiles)
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))

  /** Bytes and count of the data files under `path`. */
  def size(path: String): (Long, Long) = {
    val fs = dataFiles(new File(path))
    (fs.map(_.length).sum, fs.size.toLong)
  }

  /** Digest of the data files' contents under `dir`, in path order
    * with the per-write file-name token removed — equal for two
    * stagings exactly when they wrote the same bytes. */
  def digest(dir: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val root = new File(dir).toPath
    val writeId = "-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"
    dataFiles(new File(dir))
      .map(f => (root.relativize(f.toPath).toString.replaceAll(writeId, ""), f))
      .sortBy(_._1)
      .foreach { case (rel, f) =>
        md.update(rel.getBytes("UTF-8"))
        md.update(Files.readAllBytes(f.toPath))
      }
    md.digest.map("%02x".format(_)).mkString
  }
}
