// Bridge into Spark's file-source internals: InMemoryFileIndex,
// FileStatusCache and HadoopFsRelation are private[sql] /
// datasources-internal surface in Spark 4, so this one object lives in
// the org.apache.spark.sql.execution.datasources package (the same
// convention as GraftSqlBridge). No Spark internals are modified — it
// re-assembles exactly the relation spark.read.parquet(paths) builds,
// with one substitution: the file STATUSES are supplied by the caller
// (the snapshot layer's manifests already know every referenced file),
// so planning launches no listing pass at all — no "Listing leaf files
// and directories for N paths" Spark job, no per-file driver stats.
// Everything downstream (partition inference from the basePath option,
// partition pruning, the vectorized reader) is the same code path a
// listing-based read takes. Schema inference without mergeSchema reads
// the same one footer Spark's would, on the driver instead of in a
// one-task Spark job (see inferDataSchema).
package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.classic.{DataFrame, SparkSession}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

object GraftManifestReadBridge {

  /** A FileStatusCache pre-populated with the caller's statuses: every
    * root path (each one a data FILE under the manifested table) hits
    * the cache, so InMemoryFileIndex's refresh finds nothing left to
    * list. Read-only — the index's put-back of what it "listed" is a
    * no-op, and nothing is shared across reads. */
  private final class Prefed(m: java.util.HashMap[Path, Array[FileStatus]])
    extends FileStatusCache {
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      Option(m.get(path))
    override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }

  /** The relation-assembly half of DataSource.resolveRelation for a
    * parquet read of explicit file paths, minus the listing: partition
    * spec inferred by PartitioningAwareFileIndex from the supplied
    * statuses + the `basePath` option, data schema by
    * [[inferDataSchema]] over the same files (mergeSchema honored from
    * `options` and the session), HadoopFsRelation built from both —
    * byte-identical planning inputs to the listing-based read. Without
    * mergeSchema no Spark job runs at all. */
  def read(s: org.apache.spark.sql.SparkSession,
      options: Map[String, String],
      statuses: Seq[FileStatus]): DataFrame = {
    val cs = s.asInstanceOf[SparkSession]
    val opts = CaseInsensitiveMap(options)
    val m = new java.util.HashMap[Path, Array[FileStatus]](statuses.size * 2)
    statuses.foreach(st => m.put(st.getPath, Array(st)))
    val index = new InMemoryFileIndex(cs, statuses.map(_.getPath),
      opts, None, new Prefed(m))
    val format = new ParquetFileFormat
    val dataSchema = inferDataSchema(cs, opts, format, index.allFiles())
      .getOrElse(throw new IllegalArgumentException(
        "GraftManifestReadBridge: unable to infer parquet schema over " +
          s"${statuses.size} manifested files"))
    val rel = HadoopFsRelation(index, index.partitionSchema,
      dataSchema.asNullable, None, format, opts)(cs)
    cs.baseRelationToDataFrame(rel)
  }

  /** ParquetUtils.inferSchema's result without its Spark job. With
    * mergeSchema off it touches ONE file — the first `_common_metadata`,
    * else the first `_metadata`, else the first data file in path order
    * — and still ships that single footer read to a one-task job (plus a
    * Hadoop-conf broadcast). This reads the same footer on the driver,
    * through the same conf, corrupt-file policy and
    * ParquetToSparkSchemaConverter settings as that task, and converts
    * it with the same ParquetFileFormat.readSchemaFromFooter. With
    * mergeSchema on, every file is read, so Spark's parallel merge job
    * stays. */
  private def inferDataSchema(cs: SparkSession,
      opts: CaseInsensitiveMap[String], format: ParquetFileFormat,
      files: Seq[FileStatus]): Option[StructType] = {
    val sqlConf = cs.sessionState.conf
    val popts = new ParquetOptions(opts, sqlConf)
    if (popts.mergeSchema) format.inferSchema(cs, opts, files)
    else {
      import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
      val leaves = files.sortBy(_.getPath.toString)
      def named(n: String) = leaves.find(_.getPath.getName == n)
      val touch = named(PARQUET_COMMON_METADATA_FILE)
        .orElse(named(PARQUET_METADATA_FILE))
        .orElse(leaves.find { f =>
          val n = f.getPath.getName
          n != PARQUET_COMMON_METADATA_FILE && n != PARQUET_METADATA_FILE
        })
      touch.flatMap { st =>
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = sqlConf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = sqlConf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = sqlConf.parquetInferTimestampNTZEnabled,
          nanosAsLong = sqlConf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation =
            sqlConf.parquetReaderRespectUnknownTypeAnnotation)
        val conf = cs.sessionState.newHadoopConfWithOptions(opts)
        val footer =
          try Some(new Footer(st.getPath, ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(st, conf),
            ParquetMetadataConverter.SKIP_ROW_GROUPS)))
          catch { case e: RuntimeException =>
            if (popts.ignoreCorruptFiles) None
            else throw QueryExecutionErrors.cannotReadFooterForFileError(
              st.getPath, e)
          }
        footer.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
      }
    }
  }
}
