package graft.sources

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{
  FileFormat, FileIndex, FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionDirectory,
  PartitionPath, PartitionDiscovery, PartitionSpec}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** A [[FileIndex]] over one hive-partitioned table that lists files only
  * under the partition directories a scan's partition filters keep.
  *
  * `partitions` holds every leaf partition directory with its values, as
  * walked when the frame was built; an unpartitioned table is one entry,
  * the root, with no values. `listFiles` evaluates the partition filters
  * against those values and hands the kept directories to an
  * [[InMemoryFileIndex]] — so Spark's own listing (serial on the driver
  * below `spark.sql.sources.parallelPartitionDiscovery.threshold`
  * directories, one parallel job above it) lists them, and its file-level
  * filters apply. Each directory's files are listed once, by the first plan
  * that keeps it, and kept in `files`: every later plan over this index,
  * whatever directories it keeps, sees those files for it.
  * `sizeInBytes` and `inputFiles` come from the listing of every directory,
  * built the first time the planner asks (a join sizing its sides, a
  * single-partition child), as a whole-table `spark.read` lists it.
  * `refresh()` drops what was listed. */
private[sources] final class PrunedFileIndex(
    spark: SparkSession, root: Path, val partitionSchema: StructType, partitions: Seq[PartitionPath])
  extends FileIndex {

  /** The files of each directory listed so far; `InMemoryFileIndex` reads a
    * directory from here before it lists it, and puts what it lists. */
  private object files extends FileStatusCache {
    private val leaves = new ConcurrentHashMap[Path, Array[FileStatus]]()
    override def getLeafFiles(dir: Path): Option[Array[FileStatus]] = Option(leaves.get(dir))
    override def putLeafFiles(dir: Path, fs: Array[FileStatus]): Unit = leaves.putIfAbsent(dir, fs): Unit
    override def invalidateAll(): Unit = leaves.clear()
  }

  private val listings = mutable.Map.empty[Seq[Path], InMemoryFileIndex]

  private def listing(kept: Seq[PartitionPath]): InMemoryFileIndex = synchronized {
    listings.getOrElseUpdate(kept.map(_.path), new InMemoryFileIndex(
      spark, kept.map(_.path), Map.empty, Some(partitionSchema), files,
      Some(PartitionSpec(partitionSchema, kept))))
  }

  private def full: InMemoryFileIndex = listing(partitions)

  /** The directories whose values satisfy every filter that reads only
    * partition columns (the rule `PartitioningAwareFileIndex` applies). */
  private def prune(filters: Seq[Expression]): Seq[PartitionPath] = {
    val names = partitionSchema.fieldNames
    filters.filter(_.references.forall(a => names.contains(a.name))).reduceOption(And) match {
      case None => partitions
      case Some(p) =>
        val bound = Predicate.createInterpreted(p.transform {
          case a: AttributeReference =>
            val i = names.indexOf(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
        partitions.filter(d => bound.eval(d.values))
    }
  }

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(
      partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = prune(partitionFilters)
    if (kept.isEmpty) Nil else listing(kept).listFiles(partitionFilters, dataFilters)
  }

  override def inputFiles: Array[String] = full.inputFiles

  override def sizeInBytes: Long = full.sizeInBytes

  override def refresh(): Unit = synchronized {
    listings.clear()
    files.invalidateAll()
  }
}

private[sources] object PrunedFileIndex {

  /** A frame over the table at `path` in `format` ("parquet" or "orc"),
    * built without a Spark job: the partition directories are walked on the
    * driver and the data schema is read from one data file. See
    * [[Storage.readEvents]].
    *
    * `only` narrows the frame to one leaf partition directory, named
    * relative to `path` (`bucket=3`), as `spark.read` of that directory
    * with `basePath = path` would. When that directory holds a data file,
    * the frame is built from it alone: one listing, its first data file as
    * the schema sample, and its name as the only partition path the
    * partition types are inferred from — nothing else under `path` is
    * listed or read. When it is absent or holds no data file, the table is
    * walked as without `only` and the frame keeps no directory, so a miss
    * has the schema a hit has. Either way the relation's size
    * (`sizeInBytes`, otherwise the whole-table listing) is that
    * directory's, for a plan that asks for it although its filters keep one
    * directory. */
  def read(spark: SparkSession, path: String, format: String, only: Option[String] = None): DataFrame = {
    val fileFormat: FileFormat = format.toLowerCase(java.util.Locale.ROOT) match {
      case "parquet" => new ParquetFileFormat
      case "orc" => new OrcFileFormat
      case other => throw new IllegalArgumentException(s"unsupported table format '$other'")
    }
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(hadoopConf)
    val root = fs.makeQualified(new Path(path))
    def list(dir: Path) = try fs.listStatus(dir).toSeq catch {
      case _: java.io.FileNotFoundException if dir == root =>
        throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> root.toString))
      // removed since its parent was listed (a concurrent delete)
      case _: java.io.FileNotFoundException => Nil
    }
    // a partition directory as Spark discovers one: `k=v`, not `.`-hidden
    // (`_k=v` counts; `_temporary` and other `_` names do not)
    def partitionDirs(children: Seq[FileStatus]) = children.filter { f =>
      val n = f.getPath.getName
      f.isDirectory && n.contains("=") && !n.startsWith(".")
    }.map(_.getPath)
    // a data file as Spark sees one: not `_*`/`.*` (markers, checksums, temp files)
    def isData(f: FileStatus) = f.isFile && !f.getPath.getName.matches("[_.].*")

    // The partition depth is uniform, so the first directory of a level that
    // holds `k=v` directories or a data file shows whether the level below is
    // partitioned or this one holds the leaves. Directories that hold neither,
    // such as an `et=` whose every `pid=` a delete removed, are passed over.
    // A partitioned level is listed whole; of the leaves, only those up to the
    // first data file (the schema sample).
    @annotation.tailrec
    def walk(level: Seq[Path]): (Seq[Path], Option[FileStatus]) = {
      val probed = LazyList.from(level).map(list)
      probed.indexWhere(c => partitionDirs(c).nonEmpty || c.exists(isData)) match {
        case i if i >= 0 && partitionDirs(probed(i)).nonEmpty => walk(probed.flatMap(partitionDirs).toList)
        case i => (level, probed.lift(i).flatMap(_.find(isData)))
      }
    }
    val kept = only.map(d => new Path(root, d))
    val (leafDirs, sample) = kept.flatMap(d => list(d).find(isData).map(f => (Seq(d), Some(f))))
      .getOrElse(walk(Seq(root)))
    val spec =
      if (leafDirs == Seq(root)) PartitionSpec(new StructType(), Seq(PartitionPath(InternalRow.empty, root)))
      else PartitionDiscovery.parse(spark, root, leafDirs)
    val dataSchema = sample.flatMap { f =>
      fileFormat match {
        case _: ParquetFileFormat =>
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
          Some(ParquetFileFormat.readSchemaFromFooter(
            new Footer(f.getPath, footer), new ParquetToSparkSchemaConverter(conf)))
        case other => other.inferSchema(spark, Map.empty, Seq(f))
      }
    }.getOrElse(throw new AnalysisException(
      "UNABLE_TO_INFER_SCHEMA", Map("format" -> fileFormat.toString)))
    val partitions = spec.partitions.filter(p => kept.forall(_ == p.path))
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new PrunedFileIndex(spark, root, spec.partitionColumns, partitions), spec.partitionColumns,
      nullable(dataSchema).asInstanceOf[StructType], None, fileFormat, Map.empty)(spark))
  }

  /** Every field, element and value nullable, as `spark.read` declares a
    * file source's data schema. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
