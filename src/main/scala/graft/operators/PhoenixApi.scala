package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's MapReduce PROGRAMMING surface re-expressed on typed
  * Datasets — the port path for a Phoenix application: supply the same
  * `map` and combiner functions the C++ template took
  * (`MapReduce<Impl, D, K, V, Container>`, reference
  * include/map_reduce.h:46-189) and the engine handles split, shuffle,
  * reduce, and sort.
  *
  * Mapping of the Phoenix contract (SURVEY §2.1):
  *  - split (F1/F2): the Dataset's own partitioning, one map task each;
  *  - map + emit_intermediate (F4): `map` runs per input row inside the
  *    task, and every `(k, v)` it emits is folded at once into the
  *    task's own hash container (`java.util.HashMap`) — Phoenix++'s
  *    per-thread `hash_container` with its combiner applied at insert
  *    (include/container.h:144-229, include/combiner.h:37-161). The
  *    emitted pairs are never materialized as rows;
  *  - associative/sum combiner (F6): [[mapReduce]]'s `combine`, one `V`
  *    per key in the container;
  *  - one_combiner (F7): `combine = (a, _) => a`;
  *  - buffer_combiner (F5): [[mapReduceGroups]] — the container holds a
  *    value buffer per key and the reducer sees every value, like
  *    Phoenix's reduce_iterator;
  *  - shuffle + hash merge (F8/F9): the container flushes one record
  *    per key downstream; a `groupByKey` shuffle merges the records of
  *    all tasks (spill-safe, Spark's own exchange and aggregation);
  *  - merge/sort (F11/F12): order the returned Dataset.
  *
  * Task memory stays bounded at any key cardinality: the container
  * flushes its entries and clears whenever it holds [[FlushBound]] keys
  * (F6) or buffered values (F5), and again at task end. A key may then
  * reach the shuffle more than once per task; the reduce side merges
  * those records like any two tasks' records.
  *
  * Keys are combined by Java `equals`/`hashCode`. That is sound wherever
  * `equals` is no coarser than Spark's grouping of the encoded key; where
  * it is finer (arrays compare by reference, boxed `-0.0` vs `0.0`) it
  * only leaves two entries that the reduce side merges. A null `V` is a
  * value like any other: it is combined or buffered, never dropped.
  */
object PhoenixApi {

  /** Entries (F6 keys, F5 buffered values) a task's container holds
    * before it flushes. */
  private[graft] val FlushBound = 1 << 16

  /** Phoenix MapReduce with an associative combiner (F6 / sum_combiner
    * shape): each task folds its emits into one `V` per key, and the
    * shuffle merges the tasks' partial values by the same `combine`. */
  def mapReduce[D, K, V](input: Dataset[D])(
      map: D => IterableOnce[(K, V)])(combine: (V, V) => V)(
      implicit ekv: Encoder[(K, V)], ek: Encoder[K]): Dataset[(K, V)] =
    input.mapPartitions(rows => container(rows, map, perValue = false)(identity[V], combine))
      .groupByKey(_._1)
      .reduceGroups((a, b) => (a._1, combine(a._2, b._2)))
      .map(_._2)

  /** Phoenix MapReduce with a buffer combiner (F5): the reducer receives
    * every value emitted for a key, duplicates included, as one iterator
    * over the tasks' buffers — the reference's `reduce_iterator`
    * (include/combiner.h:37-105). Each task ships one `(K, Seq[V])`
    * record per key per flush, encoded by `ekb`. The whole group
    * materializes per key — exactly the reference's memory behavior,
    * and the reason F6 is preferred when the reduction is associative. */
  def mapReduceGroups[D, K, V, O](input: Dataset[D])(
      map: D => IterableOnce[(K, V)])(reduce: (K, Iterator[V]) => O)(
      implicit ekb: Encoder[(K, Seq[V])], ek: Encoder[K], eo: Encoder[O]): Dataset[O] =
    input.mapPartitions { rows =>
        container(rows, map, perValue = true)((v: V) => List(v), (b: List[V], v: V) => v :: b)
          .map { case (k, b) => (k, b.reverse: Seq[V]) }
      }
      .groupByKey(_._1)
      .mapGroups((k, bufs) => reduce(k, bufs.flatMap(_._2)))

  /** A mutable cell of the container, so a combine costs one lookup. */
  private final class Slot[C](var c: C)

  /** One map task's walk: runs `mapper` on each row and folds every
    * emitted `(k, v)` into the container — `start` for a key's first
    * value, `add` after. Emits the entries, then clears, when the
    * container holds [[FlushBound]] keys (or values, if `perValue`) and
    * when the input ends. */
  private def container[D, K, V, C](rows: Iterator[D], mapper: D => IterableOnce[(K, V)],
      perValue: Boolean)(start: V => C, add: (C, V) => C): Iterator[(K, C)] =
    new Iterator[(K, C)] {
      private val table = new java.util.HashMap[K, Slot[C]]()
      private var held = 0
      private var emits: Iterator[(K, V)] = Iterator.empty
      private var out = table.entrySet.iterator

      def hasNext: Boolean = out.hasNext || {
        table.clear()
        held = 0
        while (held < FlushBound && (emits.hasNext || rows.hasNext)) {
          if (!emits.hasNext) emits = mapper(rows.next()).iterator
          else {
            val (k, v) = emits.next()
            val slot = table.get(k)
            if (slot == null) { table.put(k, new Slot(start(v))); held += 1 }
            else { slot.c = add(slot.c, v); if (perValue) held += 1 }
          }
        }
        out = table.entrySet.iterator
        out.hasNext
      }

      def next(): (K, C) = {
        if (!hasNext) throw new NoSuchElementException("container exhausted")
        val e = out.next()
        (e.getKey, e.getValue.c)
      }
    }

  /** The reference tokenizer as a plain Scala function — byte-identical
    * semantics to [[TextPipeline.TokenPattern]] (SURVEY §1.2 Q5). */
  private val TokenRe = TextPipeline.TokenPattern.r
  def tokenize(line: String): Seq[String] =
    TokenRe.findAllIn(line.toLowerCase).toSeq

  /** wordCount ported onto the facade exactly as the Phoenix app is
    * written: map = tokenize + emit (w, 1), combiner = sum (the app's
    * sum_combiner, wordCount/wordCount.cpp:48), stop filter at the end
    * (where the reference prints, :151-157), then the Q4 total order.
    * Output contract identical to `q_wordcount` — one oracle checks both
    * implementations. */
  def phoenixWordCount(s: SparkSession, textPath: String = RefQueries.Dracula): DataFrame = {
    import s.implicits._
    val lines = s.read.textFile(textPath)
    val stop = TextPipeline.stopWords(s, RefQueries.StopWordsPath)
    mapReduce(lines)(line => tokenize(line).map(w => (w, 1L)))(_ + _)
      .toDF("word", "cnt")
      .join(broadcast(stop), Seq("word"), "left_anti")
      .orderBy(col("cnt").asc, col("word").desc)
  }
}
