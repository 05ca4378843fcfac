package graft.queries

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}

/** The one registry for artifacts derived from input data and reused
  * across calls: trained tokenizers, bucketed index tables, export
  * dirs, stream fixture spills, checkpointed indexes, probe decisions.
  *
  * '''Key.''' `kind` (the artifact and its parameters, e.g.
  * `"semdedup_corpus:k8"`), plus each input's canonicalized analyzed
  * plan (what `CacheManager` matches with `sameResult`), plus the
  * (path, size, mtime) of every file the inputs read. The file list
  * comes from the relation's file index, which Spark listed when the
  * input frame was built, so a lookup does no I/O of its own.
  *
  * '''Validity.''' An entry is built once per key, outside the map's
  * bin lock, and is reused while:
  *  - every temp dir it claimed ([[Build.dir]]) still exists, and
  *  - if it holds Spark state ([[Build.table]], [[Build.bind]]: catalog
  *    tables, checkpointed frames), the SparkContext that built it is
  *    the caller's and is not stopped.
  * Plain values (trained models, centroids, counts, decisions) stay
  * valid across sessions. An invalid entry is dropped and rebuilt.
  *
  * '''Limit.''' The fingerprint sees a rewritten input file only
  * through its path, size or mtime: a rewrite that keeps every file's
  * size and mtime is not seen, and the stale artifact is returned.
  *
  * Every temp dir handed out by [[tempDir]] is removed by one JVM
  * shutdown hook. */
object Artifacts {

  /** What a build claims while it runs: the dirs its entry owns and
    * whether the entry is bound to the building SparkContext. */
  final class Build private[Artifacts] (val spark: SparkSession) {
    private[Artifacts] var dirs = List.empty[Path]
    private[Artifacts] var context = Option.empty[SparkContext]
    private lazy val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(12)

    /** A fresh temp dir owned by this entry: the entry is valid only
      * while the dir exists. */
    def dir(prefix: String): Path = { val d = tempDir(prefix); dirs ::= d; d }

    /** A catalog table name unique to this entry; binds the entry to
      * the building SparkContext, whose catalog holds the table. */
    def table(prefix: String): String = { bind(); s"${prefix}_$tag" }

    /** Binds the entry to the building SparkContext (checkpointed
      * frames, catalog tables). */
    def bind(): Unit = context = Some(spark.sparkContext)

    /** Writes `df` as a catalog table of 8 buckets sorted by `by`, under
      * a dir this entry owns, and returns the table's name. */
    def bucketedTable(prefix: String, by: String, df: DataFrame): String = {
      val name = table(prefix)
      df.write.bucketBy(8, by).sortBy(by).option("path", dir("graft_bkt_").toString)
        .mode("overwrite").saveAsTable(name)
      name
    }
  }

  /** Registry traffic of one kind: hits, misses (= builds) and the wall
    * seconds those builds took. */
  final case class Counts(hits: Long, misses: Long, buildSeconds: Double) {
    def +(o: Counts): Counts =
      Counts(hits + o.hits, misses + o.misses, buildSeconds + o.buildSeconds)
    def -(o: Counts): Counts =
      Counts(hits - o.hits, misses - o.misses, buildSeconds - o.buildSeconds)
  }
  object Counts { val zero: Counts = Counts(0, 0, 0.0) }

  private final case class Key(kind: String, plans: Seq[LogicalPlan],
      files: Seq[(String, Long, Long)])

  private final case class Built(value: Any, dirs: Seq[Path], context: Option[SparkContext]) {
    def validFor(spark: SparkSession): Boolean =
      dirs.forall(Files.exists(_)) &&
        context.forall(sc => (sc eq spark.sparkContext) && !sc.isStopped)
  }

  /** The holder's `lazy val` runs the build outside the map's bin lock
    * (a build is often a Spark job) while still building once per key:
    * concurrent callers of one key wait on the holder, not the map. */
  private final class Entry(make: () => Built) { lazy val built: Built = make() }

  private val entries = new ConcurrentHashMap[Key, Entry]()
  private val stats = new ConcurrentHashMap[String, Counts]()
  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  private lazy val drain: Unit = {
    sys.addShutdownHook(tempDirs.asScala.foreach(deleteTree))
    ()
  }

  /** The artifact `kind` over `inputs`, built by `build` on a miss.
    * The caller's session is the first input's. */
  def getOrBuild[T](kind: String, inputs: Seq[DataFrame])(build: Build => T): T = {
    require(inputs.nonEmpty, s"artifact $kind needs at least one input")
    val spark = inputs.head.sparkSession
    val key = Key(kind, inputs.map(_.queryExecution.analyzed.canonicalized),
      inputs.flatMap(inputFiles).sorted)
    val mine = new Entry(() => {
      val b = new Build(spark)
      val t0 = System.nanoTime()
      val v = build(b)
      stats.merge(kind, Counts(0, 1, (System.nanoTime() - t0) / 1e9), _ + _)
      Built(v, b.dirs, b.context)
    })
    val e = entries.computeIfAbsent(key, _ => mine)
    val got = try e.built catch { case t: Throwable => entries.remove(key, e); throw t }
    if (e eq mine) got.value.asInstanceOf[T]
    else if (got.validFor(spark)) {
      stats.merge(kind, Counts(1, 0, 0.0), _ + _)
      got.value.asInstanceOf[T]
    } else { entries.remove(key, e); getOrBuild(kind, inputs)(build) }
  }

  /** Hits, misses and build seconds per kind since JVM start. */
  def snapshot(): Map[String, Counts] = stats.asScala.toMap

  /** A fresh temp dir (under `parent` when given), removed at JVM exit. */
  def tempDir(prefix: String, parent: Option[Path] = None): Path = {
    val d = parent.fold(Files.createTempDirectory(prefix))(Files.createTempDirectory(_, prefix))
    drain
    tempDirs.add(d)
    d
  }

  /** Deletes `root` and everything under it; a path already gone is
    * not an error. */
  private[graft] def deleteTree(root: Path): Unit =
    try {
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(p => p.toFile.delete())
        finally walk.close()
      }
    } catch { case _: java.io.IOException => () }

  private def inputFiles(df: DataFrame): Seq[(String, Long, Long)] =
    df.queryExecution.analyzed.collect {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case idx: PartitioningAwareFileIndex =>
            idx.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          case idx => idx.rootPaths.map(p => (p.toString, -1L, -1L))
        }
        case _ => Nil
      }
    }.flatten
}
