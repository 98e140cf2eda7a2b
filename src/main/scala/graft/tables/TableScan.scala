package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The one read core under the engine's three table readers. Each reader
  * only parses its own metadata into a [[TableScan.ScanPlan]] —
  * [[SnapshotTable]] its manifest JSON, [[IcebergExport]] metadata.json
  * and the Avro manifests, [[DeltaExport]] its log replay and DV
  * descriptors — and [[TableScan.read]] turns any plan into the live rows:
  *
  *  - ONE manifest-fed scan per file format (`GraftManifestRead`: the
  *    metadata's true byte lengths replace Spark's file listing), with the
  *    listing reader as the fallback for unknown lengths or avro;
  *  - per-file metadata the rows need (data sequence, partition values)
  *    attached by ONE broadcast join on the file path, failing loudly on
  *    a miss;
  *  - key deletes and `(path, pos)` position deletes applied as left-anti
  *    joins under their sequence rules.
  *
  * A plan without deletes or partition columns is exactly one scan
  * relation, so every copy-on-write read plans as it always has. The
  * bucket-claim prune (point lookups) and the bounds prune (range scans)
  * also live here, so the three readers prune identically.
  */
private[tables] object TableScan {

  /** One live data file as table metadata describes it.
    *
    * @param path      absolute file URI
    * @param bytes     true byte length; ≤ 0 means unknown, and the scan
    *                  then lists (a 0-length split would silently drop a
    *                  real file's rows)
    * @param seq       data sequence number — what key deletes and
    *                  sequenced position deletes compare against
    * @param bucket    bucket claim: None = no claim (the file may hold rows
    *                  of any bucket), Some(None) = the null-key bucket,
    *                  Some(Some(b)) = bucket b
    * @param partition partition values as strings (None = null), read for
    *                  [[ScanPlan.partitionColumns]]
    * @param format    parquet, orc or avro
    */
  final case class ScanFile(
      path: String, bytes: Long, seq: Long = 0L,
      bucket: Option[Option[Int]] = None,
      partition: Map[String, Option[String]] = Map.empty,
      format: String = "parquet")

  /** One parquet delete file: absolute URI, true byte length (≤ 0
    * unknown), sequence and bucket claim.
    */
  final case class ScanDelete(path: String, bytes: Long, seq: Long, bucket: Option[Option[Int]] = None)

  sealed trait RowDeletes

  /** Equality deletes on one key column: a row dies when a delete file
    * holding its key (NULL-safe: NULL is a merge key) has a HIGHER
    * sequence than the row's data file, so rows re-inserted after a
    * delete survive. `foreign` files come from another writer and may
    * lack the key column: their footers are checked first, and a file
    * without it goes to the inferring reader, which fails loudly instead
    * of reading all-NULL keys.
    */
  final case class KeyDeletes(key: StructField, files: Seq[ScanDelete], foreign: Boolean)
      extends RowDeletes

  /** Position deletes: `rows` holds `_ppath` (canonical data-file path,
    * [[DeltaExport.canonicalPath]]) and `_ppos` (row index) and, when
    * `sequenced`, `_pseq` — a delete that applies to data files AT OR
    * BELOW its sequence (a commit may delete rows of files it just
    * added); an unsequenced delete (a Delta DV) always applies. A reader
    * that knows its side is change-set-sized hints `rows` as broadcast.
    */
  final case class PositionDeletes(rows: DataFrame, sequenced: Boolean)
      extends RowDeletes

  /** What to read: the read schema, the live data files, their row
    * deletes, and the schema columns whose values come from
    * [[ScanFile.partition]] instead of the files.
    */
  final case class ScanPlan(
      schema: StructType, files: Seq[ScanFile],
      deletes: Seq[RowDeletes] = Nil, partitionColumns: Seq[String] = Nil)

  /** The bucket-claim prune: must a read of buckets `bs` plan a file with
    * this claim? An unclaimed file must be scanned (a row predicate
    * follows); the null-key bucket never matches a concrete key.
    */
  def inBuckets(claim: Option[Option[Int]], bs: Int => Boolean): Boolean = claim match {
    case None          => true
    case Some(None)    => false
    case Some(Some(b)) => bs(b)
  }

  /** `read(plan).where(lo <= column <= hi)` with manifest-level skipping.
    * The column resolves case-insensitively in `schema` and must be
    * numeric; `plan(field, overlaps)` is the reader's plan of only the
    * files whose (min, max) bounds for it `overlaps` [lo, hi], so a
    * dropped file costs no footer open and no task. An absent bound is
    * "no evidence", never "no match"; deletes still apply to the kept
    * rows, and the residual predicate is typed so parquet row-group
    * pruning survives.
    */
  def readRange(spark: SparkSession, schema: StructType, column: String, lo: Double, hi: Double)(
      plan: (StructField, (Option[Double], Option[Double]) => Boolean) => ScanPlan): DataFrame = {
    val field = schema.fields.find(_.name.equalsIgnoreCase(column)).getOrElse(
      throw new IllegalArgumentException(s"range column '$column' not in the table schema"))
    require(field.dataType.isInstanceOf[NumericType],
      s"a range read needs a numeric column, '$column' is ${field.dataType}")
    read(spark, plan(field, (mn, mx) => mx.forall(_ >= lo) && mn.forall(_ <= hi)))
      .where(rangePredicate(field, lo, hi))
  }

  /** `lo <= field <= hi` as a TYPED-LITERAL predicate so the comparison
    * stays on the BARE column: a cast-wrapped column cannot be translated
    * to a parquet data-source filter, which would forfeit row-group
    * pruning inside the kept files. Integral columns round the bounds
    * INWARD (x >= 4.5 ⇔ x >= 5), which is exact, and CLAMP them to the
    * column type's own range before the literal is built: a caller
    * passing lo/hi outside e.g. Int range (a sentinel like 1e10 for "no
    * upper cap") must not overflow the cast — under ANSI that throws
    * CAST_OVERFLOW, with ANSI off the literal wraps and silently drops
    * matching rows. A clamped-empty range matches nothing. Fractional/
    * decimal columns fall back to the double cast (correct, pushdown lost
    * — decimals are rare stats columns).
    */
  private def rangePredicate(field: StructField, lo: Double, hi: Double): Column = {
    val column = col(quoted(field.name))
    def integralPredicate(typeMin: Long, typeMax: Long) = {
      val lo2 = math.max(if (lo <= typeMin.toDouble) typeMin else math.ceil(lo).toLong, typeMin)
      val hi2 = math.min(if (hi >= typeMax.toDouble) typeMax else math.floor(hi).toLong, typeMax)
      if (lo2 > hi2) lit(false)
      else column >= lit(lo2).cast(field.dataType) && column <= lit(hi2).cast(field.dataType)
    }
    field.dataType match {
      case ByteType    => integralPredicate(Byte.MinValue, Byte.MaxValue)
      case ShortType   => integralPredicate(Short.MinValue, Short.MaxValue)
      case IntegerType => integralPredicate(Int.MinValue, Int.MaxValue)
      case LongType    => integralPredicate(Long.MinValue, Long.MaxValue)
      case DoubleType  => column >= lit(lo) && column <= lit(hi)
      case _           => column.cast("double") >= lo && column.cast("double") <= hi
    }
  }

  /** The live rows of `plan`, in its schema's column order. */
  def read(spark: SparkSession, plan: ScanPlan): DataFrame = {
    if (plan.files.isEmpty) return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], plan.schema)
    val keyDeletes = plan.deletes.collect { case k: KeyDeletes => relevant(k, plan.files) }
      .filter(_.files.nonEmpty)
    val posDeletes = plan.deletes.collect { case p: PositionDeletes => p }
    val needSeq = keyDeletes.nonEmpty || posDeletes.exists(_.sequenced)
    val pcols = plan.partitionColumns
    val dataSchema = StructType(plan.schema.fields.filterNot(f => pcols.contains(f.name)))
    val attached = (if (needSeq) Seq(StructField("_gseq", LongType)) else Nil) ++
      pcols.map(pc => StructField(s"_part_$pc", StringType))
    // one scan per format; `_metadata` does not pass through a union, so
    // each format's scan is tagged before it
    var out = plan.files.groupBy(_.format).toSeq.map { case (fmt, files) =>
      val scan = fileScan(spark, fmt, dataSchema, files)
      if (attached.isEmpty && posDeletes.isEmpty) scan.df
      else {
        require(posDeletes.isEmpty || fmt == "parquet",
          "position deletes require parquet data files (_metadata.row_index); " +
            s"this scan has $fmt data files")
        val tagged =
          if (posDeletes.isEmpty) scan.df
          else scan.df.withColumn("_gpath", DeltaExport.canonicalPathCol(col("_metadata.file_path")))
            .withColumn("_gpos", col("_metadata.row_index"))
        if (attached.isEmpty) tagged
        else attachByFile(spark, tagged.withColumn("_gfile", scan.fileCol), "_gfile", attached,
          files.map(f => scan.key(f.path) ->
            ((if (needSeq) Seq(f.seq) else Nil) ++ pcols.map(pc => f.partition.get(pc).flatten.orNull))))
      }
    }.reduce(_ unionByName _)
    pcols.foreach { pc =>
      val f = plan.schema.fields.find(_.name == pc).getOrElse(
        throw new IllegalStateException(s"partition column '$pc' missing from the table schema"))
      out = out.withColumn(pc, col(s"_part_$pc").cast(f.dataType))
    }
    keyDeletes.foreach { k =>
      out = out.join(keyDeleteSide(spark, k),
        col(quoted(k.key.name)) <=> col("_dkey") && col("_dseq") > col("_gseq"), "left_anti")
    }
    posDeletes.foreach { p =>
      val at = out("_gpath") === p.rows("_ppath") && out("_gpos") === p.rows("_ppos")
      out = out.join(p.rows, if (p.sequenced) at && p.rows("_pseq") >= out("_gseq") else at, "left_anti")
    }
    if (attached.isEmpty && posDeletes.isEmpty) out
    else out.select(plan.schema.fieldNames.toIndexedSeq.map(n => col(quoted(n))): _*)
  }

  /** Attach per-file columns (`fields`) to `df` by a broadcast LEFT join
    * of its file column (`fileCol`) against the reader's own metadata:
    * `rows` maps each file's key, in `fileCol`'s rendering, to its values.
    * The table is metadata-sized (one row per file), the same order as
    * the file listing Spark broadcasts to schedule a scan, and one join
    * serves any number of files — a scan per value would plan one scan
    * node per commit on a deferred-compaction table. Every attached
    * column RAISES when its row found no entry: the two sides' path
    * renderings diverged, which would otherwise silently drop rows or
    * ignore deletes.
    */
  def attachByFile(spark: SparkSession, df: DataFrame, fileCol: String,
      fields: Seq[StructField], rows: Seq[(String, Seq[Any])]): DataFrame = {
    val table = spark.createDataFrame(rows.map { case (k, vs) => Row.fromSeq(k +: vs) }.asJava,
      StructType(StructField("_fkey", StringType, nullable = false) +: fields))
    val miss = raise_error(concat(lit("TableScanAttachMiss: file "), col(fileCol),
      lit(" has no metadata entry — path rendering diverged")))
    fields.foldLeft(df.join(broadcast(table), col(fileCol) === col("_fkey"), "left")) { (d, f) =>
      d.withColumn(f.name, when(col("_fkey").isNull, miss.cast(f.dataType)).otherwise(col(f.name)))
    }.drop("_fkey", fileCol)
  }

  /** Only delete files that can apply to some planned file: an equality
    * delete must be newer than the oldest planned file and, when it
    * claims a bucket, share it with a planned file (keys hash to one
    * bucket) — unless an unclaimed file is planned, which may hold any key.
    */
  private def relevant(k: KeyDeletes, files: Seq[ScanFile]): KeyDeletes = {
    val minSeq = files.map(_.seq).min
    val claims = files.map(_.bucket).toSet
    val anyBucket = claims.contains(None)
    k.copy(files = k.files.filter(d =>
      d.seq > minSeq && (anyBucket || d.bucket.isEmpty || claims.contains(d.bucket))))
  }

  /** The delete side of a key-delete anti join: `_dkey`, `_dseq`. Delete
    * files hold exactly the key column, so they scan with the explicit
    * one-column schema (no inference) — foreign files only once every
    * footer is known to carry the key, since an explicit-schema read of a
    * file without it yields all-NULL keys, which the NULL-safe join would
    * turn into deletes of every NULL-keyed row. The anti join carries no
    * hint: a manifest-fed scan reports its true size to the planner.
    */
  private def keyDeleteSide(spark: SparkSession, k: KeyDeletes): DataFrame = {
    def footersCarryKey: Boolean = {
      val conf = spark.sparkContext.hadoopConfiguration
      SnapshotTable.parallelFooterIo(k.files)(d =>
        FileStats.parquetHasField(conf, new Path(d.path), k.key.name)).forall(identity)
    }
    val scan =
      if (k.foreign && !footersCarryKey) // the inferring reader fails loudly on such a file
        listed(spark.read.parquet(k.files.map(_.path): _*))
      else fileScan(spark, "parquet", StructType(Seq(k.key.copy(nullable = true))),
        k.files.map(d => ScanFile(d.path, d.bytes)))
    attachByFile(spark,
      scan.df.select(col(quoted(k.key.name)).as("_dkey"), scan.fileCol.as("_dfile")),
      "_dfile", Seq(StructField("_dseq", LongType)), k.files.map(d => scan.key(d.path) -> Seq(d.seq)))
  }

  /** A scan and how its rows name their file: `fileCol` is the per-row
    * file column and `key` renders a metadata path the same way.
    */
  final case class FileScan(df: DataFrame, fileCol: Column, key: String => String)

  /** A listing scan names files however the filesystem rendered them, so
    * both sides reduce to the canonical decoded path
    * ([[DeltaExport.canonicalPath]]) — a per-row string transform.
    */
  def listed(df: DataFrame): FileScan =
    FileScan(df, DeltaExport.canonicalPathCol(col("_metadata.file_path")), DeltaExport.canonicalPath)

  /** One file format's scan: manifest-fed when every length is known and
    * the format carries footers, else Spark's listing reader. The schema
    * is applied on read, so files written before an ADD COLUMNS read the
    * new columns as NULL. A manifest-fed scan's `_metadata.file_path` is
    * the URI string of the path it was handed, so its rows match their
    * metadata entry with no per-row work.
    */
  private def fileScan(spark: SparkSession, format: String, schema: StructType,
      files: Seq[ScanFile]): FileScan =
    if ((format == "parquet" || format == "orc") && files.forall(_.bytes > 0))
      FileScan(org.apache.spark.sql.GraftManifestRead.read(spark, format, schema,
        files.map(f => (new Path(f.path), f.bytes))),
        col("_metadata.file_path"), p => new Path(p).toUri.toString)
    else {
      val reader = spark.read.schema(schema)
      val paths = files.map(_.path)
      listed(format match {
        case "orc"  => reader.orc(paths: _*)
        case "avro" => reader.format(SnapshotTable.AvroFormatClass).load(paths: _*)
        case _      => reader.parquet(paths: _*)
      })
    }

  private def quoted(name: String): String = "`" + name.replace("`", "``") + "`"
}
