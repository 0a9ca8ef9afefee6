package graft.operators

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.col

/** Scale-safe session decode (the r5 verdict's de-weakening): replaces
  * `groupByKey(k).flatMapGroups { it.toIndexedSeq.sortBy(...) }` — which
  * buffers AND sorts the whole group in one task — with the classic
  * secondary-sort shape:
  *
  *   repartition(Parts, key) . sortWithinPartitions(key, seq)
  *     . mapPartitions { mapRuns(...) }
  *
  * The shuffle's external sort delivers each partition ordered by
  * (key, seq) with spill-to-disk, and [[mapRuns]] walks consecutive
  * equal-key runs handing the session handler a LAZY sub-iterator. The
  * handler may fold the run eagerly or return a lazy iterator over it
  * (encode → [[chunks]] → decode → rows, folded or compacted downstream
  * by Spark's partial aggregate); either way task memory is O(chunk) +
  * whatever running state the handler keeps (seen sets, counters),
  * never O(group). Per-session serial decode is inherent (a TCP byte
  * stream is ordered); what scales is the number of sessions, so
  * callers fan out over 64 keys.
  */
object SessionWalk {

  /** Shuffle partitions of a session walk. */
  private val Parts = 64

  /** Smallest wire chunk [[chunks]] hands to a decoder. */
  val ChunkBytes: Int = 1 << 16

  /** Shuffle the tuple dataset so each partition arrives sorted by its
    * first two columns — session key, then sequence (positional: `.as[T]`
    * keeps the source column names). */
  def sessions[T: Encoder](ds: Dataset[T]): Dataset[T] = {
    val c = ds.columns
    ds.repartition(Parts, col(c(0)))
      .sortWithinPartitions(col(c(0)), col(c(1)))
  }

  /** Like [[sessions]] but sorted by EVERY column (key first) — for
    * handlers whose in-run order is a composite of several fields rather
    * than a single sequence column. */
  def sessionsAll[T: Encoder](ds: Dataset[T]): Dataset[T] = {
    val c = ds.columns
    ds.repartition(Parts, col(c(0)))
      .sortWithinPartitions(c.map(col).toIndexedSeq: _*)
  }

  /** Walk runs of equal keys over an already-sorted iterator. The handler
    * receives each run as a lazy sub-iterator and may return a lazy
    * iterator over it: the run's rows are read as the handler's output
    * is, and whatever rows it left unread are skipped only once that
    * output runs out, so the next run always starts at the next key. */
  def mapRuns[T, R](sorted: Iterator[T])(key: T => Long)(
      handle: (Long, Iterator[T]) => IterableOnce[R]): Iterator[R] =
    new Iterator[R] {
      private val buf = sorted.buffered
      private var run: Iterator[T] = Iterator.empty
      private var out: Iterator[R] = Iterator.empty

      @annotation.tailrec
      private def advance(): Unit =
        if (!out.hasNext) {
          while (run.hasNext) run.next() // rows the handler left unread
          if (buf.hasNext) {
            val k = key(buf.head)
            run = new Iterator[T] {
              def hasNext: Boolean = buf.hasNext && key(buf.head) == k
              def next(): T =
                if (hasNext) buf.next() else Iterator.empty.next()
            }
            out = handle(k, run).iterator
            advance()
          }
        }

      def hasNext: Boolean = { advance(); out.hasNext }
      def next(): R = { advance(); out.next() }
    }

  /** A session's wire, pulled as decodable chunks: whole encoded
    * messages join until a chunk holds at least [[ChunkBytes]], so every
    * chunk boundary is a message boundary (a message is never split; a
    * larger one closes its chunk). Each chunk decodes as one stream, so
    * multi-message framing is exercised, and a chunk reads only the
    * messages it holds: task memory is O(chunk), not O(session wire). */
  def chunks(msgs: Iterator[Array[Byte]]): Iterator[Array[Byte]] =
    new Iterator[Array[Byte]] {
      private val buf = new java.io.ByteArrayOutputStream(ChunkBytes + 4096)
      def hasNext: Boolean = msgs.hasNext
      def next(): Array[Byte] = {
        if (!msgs.hasNext) Iterator.empty.next()
        buf.reset()
        while (buf.size < ChunkBytes && msgs.hasNext) buf.write(msgs.next())
        buf.toByteArray
      }
    }
}
