package graft.sources

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Table registry over the driver-generated parquet test tables.
  *
  * Mirrors the reference's notion of a named table backed by columnar
  * segments (Pinot: `pinot-common/.../common/data/Segment.java`,
  * `pinot-core/.../indexsegment/immutable/`): here one logical table =
  * one parquet dataset; a Spark task over a parquet split plays the role
  * of Pinot's per-segment operator tree. At 100 TB the same code path
  * holds — parquet row-group stats give min/max pruning, dictionary
  * pages give the dictionary-encoding benefits Pinot hand-builds.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one table: [[read]] of `<dir>/<name>.parquet`, so the scan
    * stays a plain declarative parquet relation (Catalyst pushes
    * filters/projections into the reader: PushedFilters / ReadSchema in
    * explain output) and the schema is inferred once per session, not
    * once per request.
    *
    * `events.ts` has appeared in two physical encodings across
    * test-data generations: TIMESTAMP(NANOS) — which Spark 4 only
    * reads via `spark.sql.legacy.parquet.nanosAsLong`, as an
    * epoch-nanos LongType — and TIMESTAMP(MICROS, isAdjustedToUTC =
    * false), which reads as TIMESTAMP_NTZ. Either way queries see one
    * session-zone TimestampType column: nanos normalize with integer
    * division (`div 1000`, no double round-trip, so no precision loss
    * on ~1.7e18 nano epochs) and NTZ casts wall-clock-preserving under
    * the UTC session zone every entry point sets. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = read(spark, s"$dir/$name.parquet")
    val tsType = df.schema.fields.find(_.name == "ts").map(_.dataType)
    if (name == "events" && tsType.contains(org.apache.spark.sql.types.LongType)) {
      df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    } else if (name == "events" &&
        tsType.contains(org.apache.spark.sql.types.TimestampNTZType)) {
      df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
        .cast(org.apache.spark.sql.types.TimestampType))
    } else df
  }

  /** A parquet table's schema as Spark inferred it, kept while every
    * file of the table has the footer key it was inferred from.
    * `footers` holds the key of each file seen so far, by file id. */
  private final case class SchemaEntry(session: SparkSession,
      footers: Map[String, String], schema: Option[(String, StructType)])

  private val schemaCache = new TrieMap[(Int, String), SchemaEntry]

  /** `spark.read.parquet(path)` without the per-call schema-inference
    * job — a Pinot table's schema is declared once, not worked out per
    * query. A cached schema stands in for Spark's inference only where
    * that inference could not have produced anything else:
    *
    *  - Spark infers from one arbitrary file, so an entry exists only
    *    while EVERY listed file has the same footer key (parquet
    *    `MessageType` plus the Spark row-metadata key-value, the two
    *    inputs of `ParquetFileFormat.readSchemaFromFooter`);
    *  - each load lists the table afresh (`spark.read.schema(s)` still
    *    builds a new file index, so new segments stay visible) and reads
    *    the footers of only the files not seen before, a file being
    *    (path, length, mtime) — an in-place overwrite that reuses
    *    part-file names is a new file. Any differing key falls back to
    *    plain `spark.read.parquet` and rebuilds the entry;
    *  - entries belong to one session (compared with `eq`) and one set
    *    of `spark.sql.*` confs: the parquet → Spark type conversion
    *    reads confs such as `nanosAsLong` and `binaryAsString`;
    *  - a table with no files or with partition columns is never
    *    cached: partition-value type inference can change as
    *    partitions are added. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val confs = spark.conf.getAll.filter(_._1.startsWith("spark.sql.")).toSeq.sorted
    val key = (System.identityHashCode(spark), s"$path\u0000${confs.mkString("\u0000")}")
    val prior = schemaCache.get(key).filter(_.session eq spark)
    val cached = for {
      (footerKey, schema) <- prior.flatMap(_.schema)
      df = spark.read.schema(schema).parquet(path)
      footers <- footerKeys(df, prior) if footers.nonEmpty && footers.values.forall(_ == footerKey)
    } yield {
      schemaCache.put(key, SchemaEntry(spark, footers, Some(footerKey -> schema)))
      df
    }
    cached.getOrElse {
      val df = spark.read.parquet(path)
      footerKeys(df, prior).filter(_.nonEmpty) match {
        case Some(footers) =>
          val keys = footers.values.toSet
          if (schemaCache.size > 256) schemaCache.clear()
          schemaCache.put(key, SchemaEntry(spark, footers,
            if (keys.size == 1) Some(keys.head -> df.schema) else None))
        case None => schemaCache.remove(key)
      }
      df
    }
  }

  /** Footer key of every file an unpartitioned parquet scan lists;
    * keys of files `prior` has seen are reused, so only new files are
    * opened. None for anything else. */
  private def footerKeys(df: DataFrame,
      prior: Option[SchemaEntry]): Option[Map[String, String]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
            fs.partitionSchema.isEmpty =>
          val seen = prior.map(_.footers).getOrElse(Map.empty)
          val files = fs.location.listFiles(Nil, Nil).flatMap(_.files)
            .map(f => fileId(f) -> f.getPath.toString)
          val fresh = files.filterNot(f => seen.contains(f._1))
          // a footer that cannot be read (a file deleted or still being
          // written) leaves the table uncached: plain inference decides
          try {
            val keys = mapFooters(df.sparkSession, fresh.map(_._2)) { m =>
              val meta = m.getFileMetaData
              s"${meta.getSchema}\u0000${meta.getKeyValueMetaData.get(SparkRowMetadataKey)}"
            }
            Some(seen.view.filterKeys(files.map(_._1).toSet).toMap ++ fresh.map(_._1).zip(keys))
          } catch { case NonFatal(_) => None }
        case _ => None
      }
      case _ => None
    }

  private val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  private def fileId(f: FileStatusWithMetadata): String =
    s"${f.getPath}@${f.getLen}:${f.getModificationTime}"

  /** One parquet footer, read and closed. */
  private def footer(path: String, conf: Configuration): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try r.getFooter finally r.close()
  }

  /** `f` over the footer of each file: on the driver for a few files,
    * as ONE distributed job past Spark's own listing cut-over
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`) — at
    * 100 TB a table is 10⁵+ segments and a driver-side loop would
    * serialize on the driver exactly like a collect. */
  private def mapFooters[T: ClassTag](spark: SparkSession, files: Seq[String])(
      f: ParquetMetadata => T): Seq[T] = {
    // the session's hadoop conf, not a blank Configuration —
    // object-store credentials/filesystems live there
    val conf = spark.sessionState.newHadoopConf()
    if (files.size <= spark.sessionState.conf.parallelPartitionDiscoveryThreshold)
      files.map(p => f(footer(p, conf)))
    else {
      val confBc = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
      try spark.sparkContext.parallelize(files, math.min(files.size, 32))
        .map(p => f(footer(p, confBc.value.value))).collect().toSeq
      // the broadcast only serves this one job — destroy it eagerly;
      // leaving it alive would accumulate driver+executor memory
      // across a long-lived session's cache misses
      finally confBc.destroy()
    }
  }

  /** Register every table as a temp view so `spark.sql` and the PQL
    * front-end resolve names like the reference's broker routing does
    * (`BaseBrokerRequestHandler.java:156-187` maps table name → route;
    * here the catalog does). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Exact row count from parquet FOOTER metadata when — and only
    * when — the frame is a bare unfiltered parquet scan: the
    * `MetadataBasedAggregationOperator` path (InstancePlanMakerImplV2
    * .java:148-169 plans filterless group-by-less COUNT(*) against
    * segment metadata, zero docs scanned). Footer reads go through
    * [[mapFooters]], distributed over executors for large tables. Any
    * transform, filter, or non-parquet source returns
    * None and the caller falls back to the ordinary scan-based count. */
  private val footerCountCache = new TrieMap[Seq[String], Long]

  def metadataRowCount(df: DataFrame): Option[Long] =
    df.queryExecution.optimizedPlan match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
          try {
            // ALL files the scan would read — filtering by a ".parquet"
            // suffix here would silently undercount tables whose part
            // files carry other names (Hive/Impala writers), a wrong
            // answer rather than a fallback
            val statuses = fs.location.listFiles(Nil, Nil).flatMap(_.files)
            val files = statuses.map(_.getPath.toString).sorted
            // cache key carries size+mtime (free — the FileIndex has
            // the statuses cached): an in-place overwrite that reuses
            // part-file names must not serve a stale count
            val cacheKey = statuses.map(fileId).sorted
            if (files.isEmpty) Some(0L)
            else footerCountCache.get(cacheKey).orElse {
              val n = mapFooters(df.sparkSession, files)(
                _.getBlocks.asScala.map(_.getRowCount).sum).sum
              // memoize per (path, size, mtime) file set — repeated
              // COUNT(*) must not re-open 10^5 footers per query
              if (footerCountCache.size > 256) footerCountCache.clear()
              footerCountCache.put(cacheKey, n)
              Some(n)
            }
          } catch { case NonFatal(_) => None }
        case _ => None
      }
      case _ => None
    }

  /** Top-level column names of a segment, from parquet FOOTER metadata
    * only — the `SegmentMetadata.getSchema()` the reference's pruners
    * consult without touching data. Empty when the dir has no parquet
    * files. All files of a segment share one schema (single write),
    * so the first footer speaks for the segment. */
  def segmentColumns(spark: SparkSession, segmentDir: String): Set[String] =
    Option(new java.io.File(segmentDir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName).headOption.map { f =>
        footer(f.getAbsolutePath, spark.sessionState.newHadoopConf())
          .getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSet
      }.getOrElse(Set.empty)

  /** Schema-evolution segment pruning (`query/pruner/
    * DataSchemaSegmentPruner.java:36-40`): a query over an evolved
    * table touches only the segments whose schema contains EVERY
    * queried column — a segment written before a column existed
    * contributes nothing, it is not padded with nulls. Footer-metadata
    * decision per segment (no rows read to prune), then one
    * `unionByName` scan over the covering segments projected to the
    * queried columns. Returns the surviving scan plus the pruned dirs
    * (the reference logs the same). */
  def loadEvolved(spark: SparkSession, segmentDirs: Seq[String],
      queryColumns: Seq[String]): (Option[DataFrame], Seq[String]) = {
    require(queryColumns.nonEmpty, "at least one query column required")
    val (covered, pruned) = segmentDirs.partition { dir =>
      val cols = segmentColumns(spark, dir)
      queryColumns.forall(cols.contains)
    }
    val df = covered.map { dir =>
      spark.read.parquet(dir).select(queryColumns.map(
        org.apache.spark.sql.functions.col): _*)
    }.reduceOption(_ unionByName _)
    (df, pruned)
  }
}
