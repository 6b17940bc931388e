package graft.ext

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** One persisted tier root: the completion marker that makes its base
  * visible and, for tiers that take arrivals, the numbered delta
  * generations beside it. Every persisted tier reads and writes its
  * lifecycle state through this class, so these rules hold in one place:
  *
  *  - MARKER LAST. A writer puts every artifact on disk first and the
  *    marker strictly last; no marker means no tier. [[rewrite]]
  *    retracts the marker before the caller writes and writes it after,
  *    so a crash anywhere inside reads as "no tier", never as a
  *    half-written one.
  *  - FINGERPRINT. The marker's content names how the artifacts were
  *    computed (tokenizer, banding, codec, geometry). Roots are keyed by
  *    corpus identity, which cannot see that, so [[serves]] reads any
  *    other content as "no tier". A tier with nothing to pin uses the
  *    empty fingerprint: an empty marker file.
  *  - GENERATIONS. [[append]] lands an arrival batch in `dir/gen=N` under
  *    the root and writes that generation's own marker strictly last. A
  *    generation without its marker (a crashed writer) is invisible to
  *    [[gens]], and the next append RECLAIMS its slot: numbering
  *    continues from the last completed generation, and the writer's
  *    overwrite replaces the debris. Numbers only grow while the
  *    generations live, so latest-wins merge rules can key on them.
  *  - SNAPSHOT. [[gens]] is a point-in-time listing. A reader that reads
  *    several tables lists once and threads that list through every
  *    read, so an append completing meanwhile cannot split one answer
  *    across two tier states.
  *  - SINGLE WRITER PER ROOT. Two concurrent appends pick the same slot
  *    and nothing here arbitrates between them; callers run at most one
  *    writer per root at a time. */
final class Tier(spark: SparkSession, val root: String, marker: String,
                 layout: Option[Tier.Gens] = None) {

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def markerPath = new Path(s"$root/$marker")

  /** True iff the marker is present AND carries exactly `fingerprint`. */
  def serves(fingerprint: String = ""): Boolean = {
    val f = fs
    f.exists(markerPath) && {
      val in = f.open(markerPath)
      try new String(in.readAllBytes(), UTF_8) == fingerprint
      finally in.close()
    }
  }

  /** [[serves]] or an `IllegalArgumentException` naming `caller`. */
  def require(caller: String, fingerprint: String = ""): Unit =
    Predef.require(serves(fingerprint), s"$caller: no complete tier at $root" +
      (if (fingerprint.isEmpty) "" else s" for '$fingerprint'"))

  /** Delete the marker: the tier reads as absent until the next
    * [[rewrite]] completes. */
  def retract(): Unit = { fs.delete(markerPath, false); () }

  /** Retract the marker, run `write`, then write the marker carrying
    * `fingerprint`. A throwing `write` leaves the tier absent. */
  def rewrite[A](fingerprint: String = "")(write: => A): A = {
    retract()
    val a = write
    val out = fs.create(markerPath, true)
    try out.write(fingerprint.getBytes(UTF_8)) finally out.close()
    a
  }

  private def gensLayout: Tier.Gens = layout.getOrElse(
    throw new IllegalStateException(s"the tier at $root keeps no generations"))

  private def gensDir = s"$root/${gensLayout.dir}"

  def genPath(gen: Int): String = s"$gensDir/gen=$gen"

  /** `table` of generation `gen`; "" names the generation directory. */
  private def genTable(gen: Int, table: String): String =
    if (table.isEmpty) genPath(gen) else s"${genPath(gen)}/$table"

  /** The table `table` under the root. */
  def read(table: String): DataFrame = scan(Seq(s"$root/$table"))

  /** The base's `baseTable` and `table` of each generation in `gens` (a
    * [[gens]] snapshot), as one scan: the rows of every segment, with
    * the base's schema. The table must not be partitioned by directory:
    * one scan infers partition columns only under a single root. */
  def folded(gens: Seq[Int], table: String, baseTable: String = ""): DataFrame =
    scan(s"$root/${if (baseTable.isEmpty) table else baseTable}" +:
      gens.map(genTable(_, table)))

  /** `table` of each generation in the non-empty snapshot `gens`, as one
    * scan whose rows carry their generation number in an int column
    * `gen`, for the latest-wins merge rules. */
  def genRows(gens: Seq[Int], table: String): DataFrame =
    scan(gens.map(genTable(_, table)), basePath = Some(gensDir))

  /** `paths` as one parquet scan. The schema is the row schema Spark
    * wrote into the footer of the first path's first data file, read on
    * the driver, so building the frame runs no Spark job (schema
    * inference runs one per read). With `basePath`, the directories
    * between it and each path are partition columns. */
  private def scan(paths: Seq[String], basePath: Option[String] = None): DataFrame = {
    Predef.require(paths.nonEmpty, s"no tier table to read under $root")
    val reader = spark.read.schema(footerSchema(new Path(paths.head)))
    basePath.fold(reader)(reader.option("basePath", _)).parquet(paths: _*)
  }

  private def footerSchema(dir: Path): StructType = {
    val f = fs
    def visible(p: Path) = !p.getName.startsWith("_") && !p.getName.startsWith(".")
    def firstFile(d: Path): Option[Path] = {
      val (files, dirs) = f.listStatus(d).filter(s => visible(s.getPath)).partition(_.isFile)
      files.headOption.map(_.getPath)
        .orElse(dirs.iterator.map(s => firstFile(s.getPath)).collectFirst { case Some(p) => p })
    }
    val file = firstFile(dir).getOrElse(
      throw new IllegalStateException(s"no parquet data file under $dir"))
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData.get(Tier.RowSchemaKey)
      finally reader.close()
    if (json == null)
      throw new IllegalStateException(s"$file carries no Spark row schema (${Tier.RowSchemaKey})")
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** Completed generation numbers, ascending. */
  def gens: Seq[Int] = {
    val f = fs
    val g = gensLayout
    val dir = new Path(gensDir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .flatMap(_.getPath.getName.stripPrefix("gen=").toIntOption)
      .filter(n => f.exists(new Path(s"${genPath(n)}/${g.marker}")))
      .sorted
  }

  /** Land one generation: `write` fills the directory it is given (one
    * past the last completed generation), then the generation's marker
    * is written strictly last. */
  def append(write: String => Unit): Unit = {
    val dir = genPath(gens.lastOption.getOrElse(0) + 1)
    write(dir)
    fs.create(new Path(s"$dir/${gensLayout.marker}"), true).close()
  }

  /** Delete every generation, completed or not. */
  def dropGens(): Unit = { fs.delete(new Path(gensDir), true); () }

  /** The auto-compaction policy: due once `maxGens` generations have
    * completed, or once the delta/base row ratio of the layout's table
    * reaches `maxRatio`. The ratio costs two counts, the base and every
    * generation as one scan, so it is computed only when the gens bar
    * has not fired and `maxRatio` is finite: `maxRatio = ∞` means the
    * gens bar alone. An empty base with live generations fires at every
    * finite `maxRatio`. */
  def compactionDue(maxGens: Int, maxRatio: Double): Boolean = {
    val g = gens
    g.nonEmpty && (g.sizeIs >= maxGens || (!maxRatio.isInfinity && {
      val t = gensLayout
      val nDelta = genRows(g, t.genTable).count()
      val nBase = read(t.table).count()
      nBase == 0 || nDelta.toDouble / nBase >= maxRatio
    }))
  }
}

object Tier {

  /** The parquet footer key under which Spark writes a file's row schema
    * (JSON). */
  val RowSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Where a tier keeps its generations: `root/dir/gen=N`, each visible
    * once `marker` exists inside it. The compaction ratio compares the
    * rows of `genTable` under each generation ("" for the generation
    * directory itself) with the rows of `table` under the root. */
  final case class Gens(dir: String, marker: String, table: String,
                        genTable: String)
}
