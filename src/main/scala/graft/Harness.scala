package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What graft's runnable mains and the test session share: ONE session
 * factory, so the oracle checks the configuration the bench times, and
 * ONE per-query loop. Each caller keeps its own cache cleanup. */
object Harness {

  /** Cores for a main: `SPARK_GRAFT_CPUS`, else every available processor. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]`, as many shuffle partitions, graft's extension, UTC, no
   * UI. Split sizing stays at Spark's default: a one-row-group parquet file
   * scans as one split whatever the split size, and a text input under
   * cores × 4 MB already splits at `openCostInBytes` (4 MB). */
  def session(cores: Int = envCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.extensions", "graft.plans.GraftExtension")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  type Query = (SparkSession, String) => DataFrame

  /** One query's wall seconds (build + action) and its failure, or its
   * frame with the action's result. */
  final case class Outcome[T](name: String, sec: Double,
      result: Either[Throwable, (DataFrame, T)])

  /** Builds each of `names` over `dir`, runs `action` on it and hands the
   * outcome to `after`; a failure also goes to stderr as
   * `[<main>] <name> failed: <class>: <message>`. */
  def eachQuery[T](spark: SparkSession, main: String, dir: String,
      names: Seq[String], queries: Map[String, Query] = SparkEntry.queries)
      (action: (String, DataFrame) => T)(after: Outcome[T] => Unit): Unit =
    names.foreach { name =>
      val t0 = System.nanoTime()
      val result =
        try { val df = queries(name)(spark, dir); Right((df, action(name, df))) }
        catch { case e: Throwable => Left(e) }
      val sec = (System.nanoTime() - t0) / 1e9
      result.left.foreach(e => Console.err.println(
        s"[$main] $name failed: ${e.getClass.getName}: ${e.getMessage}"))
      after(Outcome(name, sec, result))
    }

  /** One memoized value, built under its own lock rather than inside the
   * map's update, so a build may call [[once]] for another fixture. A
   * build that throws records nothing; the next call builds again. */
  private final class Box {
    private var value: Option[Any] = None
    def apply[T](build: => T): T = synchronized {
      if (value.isEmpty) value = Some(build)
      value.get.asInstanceOf[T]
    }
  }
  private val memo = new java.util.concurrent.ConcurrentHashMap[(String, String), Box]()

  /** `build`'s result once per JVM for each (`kind`, `dir`): fixtures and
   * prebuilt indexes are setup, not the operator under test. */
  private[graft] def once[T](kind: String, dir: String)(build: => T): T =
    memo.computeIfAbsent((kind, dir), _ => new Box)(build)
}
