package org.apache.spark.sql.graft

import java.nio.file.{Files, NoSuchFileException, Path => NioPath}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.SparkCharVarcharUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileIndex,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** Builds every parquet scan over files a table LOG names (DeltaLite
  * snapshots, BranchFilePruning's rebuilt subsets, standard-Delta
  * change-data files). `spark.read.schema(s).parquet(paths: _*)` would
  * re-discover files the log already lists: one existence pass, then
  * an `InMemoryFileIndex` listing that, above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32 paths),
  * is a distributed job with one task per file — run inside every
  * snapshot read, before its own action starts. This builds the same
  * relation `DataSource.resolveRelation` would (no partition columns,
  * the schema made nullable, parquet, same schema checks) over a
  * [[LogFileIndex]] instead, so the only per-file work left is one
  * local stat while the frame is built. Lives under
  * `org.apache.spark.sql` for the same reason as [[PlanFrame]]:
  * `asNullable` and the schema checks are `private[spark]`. */
object LogFileScan {

  /** A parquet scan of exactly the files `rels` (log paths, resolved
    * against the table root `root`; absolute ones stay as they are)
    * read with `schema`, in log order. A file that no longer exists (a
    * vacuumed version) fails here, naming the path, like a reader's
    * existence check does. */
  def frame(spark: SparkSession, root: NioPath, rels: Seq[String],
      schema: StructType): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    // the reader's and resolveRelation's checks on a schema that comes
    // from outside the program (a foreign `_delta_log`)
    val dataSchema = SparkCharVarcharUtils.failIfHasCharVarchar(schema)
      .asInstanceOf[StructType].asNullable
    SchemaUtils.checkSchemaColumnNameDuplication(dataSchema,
      session.sessionState.conf.resolver)
    val format = new ParquetFileFormat
    DataSourceUtils.verifySchema(format, dataSchema, readOnly = true)
    val fs = FileSystem.getLocal(session.sparkContext.hadoopConfiguration)
    val statuses = rels.map { rel =>
      val p = root.resolve(rel)
      // qualified exactly as DataSource qualifies a path string, so
      // `_metadata.file_path` and `inputFiles` read as before
      val qualified = fs.makeQualified(new Path(p.toAbsolutePath.toString))
      val attrs =
        try Files.readAttributes(p, classOf[BasicFileAttributes])
        catch {
          case _: NoSuchFileException =>
            throw QueryCompilationErrors.dataPathNotExistError(qualified.toString)
        }
      require(!attrs.isDirectory, s"log entry $qualified is a directory")
      new FileStatus(attrs.size, false, 1, fs.getDefaultBlockSize(qualified),
        attrs.lastModifiedTime.toMillis, qualified)
    }
    session.baseRelationToDataFrame(HadoopFsRelation(new LogFileIndex(statuses),
      partitionSchema = new StructType(), dataSchema = dataSchema,
      bucketSpec = None, fileFormat = format, options = Map.empty)(session))
  }

  /** A fixed file list: what `InMemoryFileIndex` holds for explicit file
    * paths, without listing them. Equal by the SET of file paths, as
    * `InMemoryFileIndex` is, so two reads of one snapshot are
    * `sameResult` and a cached read serves the next one. */
  final class LogFileIndex(statuses: Seq[FileStatus]) extends FileIndex {
    private val paths = statuses.map(_.getPath)
    private lazy val pathSet = paths.toSet

    override def rootPaths: Seq[Path] = paths
    override def inputFiles: Array[String] = paths.map(_.toUri.toString).toArray
    override def sizeInBytes: Long = statuses.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
    // log entries never change in place: nothing to refresh
    override def refresh(): Unit = ()

    /** Skips what `PartitioningAwareFileIndex.listFiles` skips: empty
      * files and `_`/`.`-prefixed names. */
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      def isData(name: String) =
        !((name.startsWith("_") && !name.contains("=")) || name.startsWith("."))
      Seq(PartitionDirectory(InternalRow.empty, statuses
        .filter(s => s.getLen > 0 && isData(s.getPath.getName)).toArray))
    }

    override def equals(other: Any): Boolean = other match {
      case o: LogFileIndex => pathSet == o.pathSet
      case _ => false
    }
    override def hashCode: Int = pathSet.hashCode
  }
}
