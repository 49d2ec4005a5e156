package graft.sources

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Directory text-corpus source (reference `master.py:63-71`,
  * `generate_dataset`): every file under `dir` becomes rows of
  * `(doc: STRING, line: STRING)` — `doc` is the file's base name
  * ([[docName]]), matching the reference's dict-of-docs keying.
  *
  * Unlike the reference (whole corpus into driver memory, then re-uploaded
  * to the KV store), this is a distributed scan: Spark's split planning
  * parallelizes over files/blocks, and downstream filters prune at the
  * reader.
  */
object CorpusReader {

  /** Raw (doc, line) rows. */
  def raw(spark: SparkSession, dir: String): DataFrame = {
    requireListable(spark, dir)
    spark.read.text(dir).select(docName.as("doc"), col("value").as("line"))
  }

  /** The base name of the file a row was read from, as the file system
    * spells it. The file source fills `_metadata.file_name` once per file
    * (no per-row path parsing); it is the base name of the file's URI,
    * which percent-encodes (`my doc.txt` → `my%20doc.txt`, `a%41b.txt` →
    * `a%2541b.txt`). `url_decode` reverses that, but also reads `+` as a
    * space, so `+` is escaped first. The batch and the streaming corpus
    * readers name documents here.
    */
  private[graft] def docName: Column =
    url_decode(replace(col("_metadata.file_name"), lit("+"), lit("%2B")))

  /** Fail, naming the file, when a local corpus directory lists a name
    * that does not stat. Hadoop's local listing decodes names with the
    * JVM's file-name encoding (`sun.jnu.encoding`, set from the locale at
    * start-up); under a non-UTF-8 locale a UTF-8 name such as `café.txt`
    * decodes to a string that no longer names the file, and the listing
    * skips it without a word — the corpus would lose a document. Hidden
    * names (`.`/`_`), which Spark skips anyway, are not checked. The
    * file-arrival streams of [[graft.Engine]] run it on every trigger, so
    * a file that arrives later is caught too.
    */
  private[graft] def requireListable(spark: SparkSession, dir: String): Unit =
    if (Sinks.fileSystem(spark, dir).getScheme == "file") {
      def check(d: java.io.File): Unit =
        Option(d.list()).getOrElse(Array.empty[String])
          .filterNot(n => n.startsWith(".") || n.startsWith("_"))
          .foreach { name =>
            val f = new java.io.File(d, name)
            if (!f.exists())
              throw new java.io.IOException(
                s"corpus file '$name' in $d is listed but cannot be read: its name " +
                  "does not decode under the JVM's file-name encoding " +
                  s"(sun.jnu.encoding=${System.getProperty("sun.jnu.encoding")}); " +
                  "run under a UTF-8 locale, e.g. LANG=C.UTF-8")
            if (f.isDirectory) check(f)
          }
      check(new java.io.File(new org.apache.hadoop.fs.Path(dir).toUri.getPath))
    }

  /** Cleaned corpus (reference `master.py:44-61`): punctuation-strip → trim
    * → lowercase → ASCII-fold, blank lines dropped.
    */
  def cleaned(spark: SparkSession, dir: String): DataFrame =
    raw(spark, dir)
      .select(col("doc"), cleanLine(col("line")).as("line"))
      .filter(length(col("line")) > 0)

  /** The `documents` table schema as JSONL carries it — pinned so the
    * reader NEVER schema-infers (inference is a full extra pass over the
    * data, which at corpus scale doubles the ingest cost; a corrupt line
    * under a pinned schema surfaces as a null row instead of silently
    * reshaping every column to the inferred union type).
    */
  val DocumentsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))

  /** Read a `documents` corpus from JSON-lines — the interchange format
    * LLM training corpora actually ship in (one JSON object per line,
    * gzip-sharded). Parallelism is PER SHARD: gzip is not a splittable
    * codec, so each `.json.gz` file is one task — shard count and size
    * balance, set at write time, ARE the read parallelism (a corpus in a
    * handful of giant gzip shards serializes its own ingest; that is a
    * property of the format in the wild, and the reason [[toJsonl]]
    * shards one file per partition instead of coalescing). The pinned
    * [[DocumentsSchema]] keeps planning one-pass (no inference scan);
    * unparseable lines come back as all-null rows — the caller's
    * filter/audit decision, not a silent drop.
    */
  def documentsFromJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(DocumentsSchema).json(path)

  /** Write a DataFrame as gzip-sharded JSON-lines — the egress twin of
    * [[documentsFromJsonl]]: one shard per partition (NO coalesce — a
    * single-file JSONL of a 100 TB corpus serializes through one task;
    * repartition upstream to set shard count = downstream read
    * parallelism, since gzip shards don't split). Staged and swapped in
    * atomically like every other sink here, so a concurrent reader of an
    * existing export never sees a half-written directory.
    */
  def toJsonl(df: DataFrame, path: String): Unit = {
    val tmp = Sinks.sibling(path, ".inprogress")
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "gzip").json(tmp)
    Sinks.swapInto(Sinks.fileSystem(df.sparkSession, path), tmp, path)
  }
}
