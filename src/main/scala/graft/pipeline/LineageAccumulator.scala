package graft.pipeline

import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.AccumulatorV2

/** The per-bucket lineage figures of one run, folded inside the extraction
  * stage's own tasks, so `ExtractJob.run` never reads its output back.
  *
  * Each task folds the [[ExtractedPage]] rows it emits into one
  * [[LineageAccumulator.Figures]] per bucket and, when its iterator is
  * exhausted, adds them under its partition id. The accumulator keeps the
  * first figures it sees for a partition and drops any later ones.
  *
  * Why that is exact: the fold runs in a shuffle-map stage, and Spark merges
  * the updates of EVERY successful attempt of a map task — a retry after a
  * lost executor, a speculative copy, a zombie attempt of a superseded
  * stage attempt, a stage resubmitted after a fetch failure — so a plain
  * sum would count such a partition twice. (Failed attempts report nothing:
  * the accumulator does not count failed values.) Every attempt of a
  * partition reads the same fixed scan split and `ExtractJob.extractPage`
  * is a pure function of the page, so all attempts that finish report
  * equal figures, and keeping one of them per partition counts each row
  * exactly once. Figures are only added at exhaustion, so an attempt that
  * stops early adds nothing. `Dataset.observe` would give exactly-once
  * metrics too, but only as one global row; it cannot group by bucket.
  *
  * Driver-side state is O(tasks × buckets) small records, independent of
  * the number of pages.
  */
private[pipeline] final class LineageAccumulator
    extends AccumulatorV2[(Int, Map[Int, LineageAccumulator.Figures]), Map[Int, Map[Int, LineageAccumulator.Figures]]] {
  import LineageAccumulator._

  private var byPartition = Map.empty[Int, Map[Int, Figures]]

  override def isZero: Boolean = byPartition.isEmpty
  override def copy(): LineageAccumulator = {
    val c = new LineageAccumulator
    c.byPartition = byPartition
    c
  }
  override def reset(): Unit = byPartition = Map.empty

  /** One task's figures by bucket, under its partition id; a partition
    * already present keeps its figures, and an empty task adds nothing. */
  override def add(v: (Int, Map[Int, Figures])): Unit =
    if (v._2.nonEmpty && !byPartition.contains(v._1)) byPartition += v

  override def merge(other: AccumulatorV2[(Int, Map[Int, Figures]), Map[Int, Map[Int, Figures]]]): Unit =
    other.value.foreach(add)

  override def value: Map[Int, Map[Int, Figures]] = byPartition

  /** One lineage row per bucket the run wrote, ordered by bucket. */
  def lineageRows(extractorVersion: String): Seq[LineageRow] =
    byPartition.values.flatten
      .groupMapReduce(_._1)(_._2)(_ + _)
      .toSeq.sortBy(_._1)
      .map { case (b, f) =>
        LineageRow(b, f.rows, f.tables, f.htmlBytes, f.errors, f.urlMin, f.urlMax, extractorVersion)
      }
}

private[pipeline] object LineageAccumulator {

  /** One bucket's figures over some rows: the lineage aggregates, with the
    * url range in the UTF-8 byte order of Spark's string `min`/`max` and
    * null when every url is null. */
  final case class Figures(rows: Long, tables: Long, htmlBytes: Long, errors: Long, urlMin: String, urlMax: String) {
    def +(o: Figures): Figures = {
      def utf8(s: String) = UTF8String.fromString(s)
      Figures(rows + o.rows, tables + o.tables, htmlBytes + o.htmlBytes, errors + o.errors,
        str(minUtf8(utf8(urlMin), utf8(o.urlMin))), str(maxUtf8(utf8(urlMax), utf8(o.urlMax))))
    }
  }

  private final class Fold {
    var rows, tables, htmlBytes, errors = 0L
    var urlMin, urlMax: UTF8String = null
    def add(p: ExtractedPage): Unit = {
      rows += 1
      tables += p.n_tables
      htmlBytes += p.html_bytes
      if (p.status.startsWith("error:")) errors += 1
      val url = UTF8String.fromString(p.url)
      urlMin = minUtf8(urlMin, url)
      urlMax = maxUtf8(urlMax, url)
    }
    def figures: Figures = Figures(rows, tables, htmlBytes, errors, str(urlMin), str(urlMax))
  }

  /** Passes `rows` through unchanged, folding them by bucket; when `rows`
    * is exhausted, adds the figures to `acc` under `partitionId`. */
  def folding(rows: Iterator[ExtractedPage], acc: LineageAccumulator, partitionId: Int): Iterator[ExtractedPage] =
    new Iterator[ExtractedPage] {
      private val folds = scala.collection.mutable.HashMap.empty[Int, Fold]
      private var reported = false
      def hasNext: Boolean = {
        val more = rows.hasNext
        if (!more && !reported) {
          reported = true
          acc.add(partitionId -> folds.iterator.map { case (b, f) => b -> f.figures }.toMap)
        }
        more
      }
      def next(): ExtractedPage = {
        val p = rows.next()
        folds.getOrElseUpdate(p.bucket, new Fold).add(p)
        p
      }
    }

  private def str(u: UTF8String): String = if (u == null) null else u.toString
  private def minUtf8(a: UTF8String, b: UTF8String): UTF8String =
    if (a == null) b else if (b == null || a.compareTo(b) <= 0) a else b
  private def maxUtf8(a: UTF8String, b: UTF8String): UTF8String =
    if (a == null) b else if (b == null || a.compareTo(b) >= 0) a else b
}
