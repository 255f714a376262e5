package graft.core

import scala.reflect.ClassTag

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD

/** Contiguous row ranges of an RDD's partitions, read through a narrow
  * dependency: the spread `Tables.fanOut` gives a pinned frame whose rows
  * sit in fewer partitions than there are cores, with no shuffle.
  */
object RowSlices {

  /** Rows `[from, until)` of parent partition `parent`. */
  final case class Slice(parent: Int, from: Long, until: Long)

  /** Cuts partitions holding `counts` rows into `max(non-empty, min(target,
    * total))` non-empty slices, each inside one partition, in partition
    * then row order. A partition's slices differ in size by at most one
    * row; each further slice goes to the partition whose largest slice is
    * largest (the lowest index on a tie), which minimizes the largest
    * slice. Every row lands in exactly one slice.
    */
  def plan(counts: Array[Long], target: Int): IndexedSeq[Slice] = {
    val pieces = counts.map(c => if (c > 0) 1L else 0L)
    val slices = math.max(pieces.sum, math.min(target.toLong, counts.sum))
    def largest(i: Int) = if (pieces(i) == 0 || pieces(i) == counts(i)) 0L
                          else (counts(i) + pieces(i) - 1) / pieces(i)
    var assigned = pieces.sum
    while (assigned < slices) {
      pieces(counts.indices.maxBy(largest)) += 1
      assigned += 1
    }
    counts.indices.flatMap { p =>
      val (c, n) = (counts(p), pieces(p))
      (0L until n).map(j => Slice(p, c * j / n, c * (j + 1) / n))
    }
  }

  private final case class SlicePartition(index: Int) extends Partition

  /** One partition per slice, each reading its parent's block. */
  final class SlicedRDD[T: ClassTag](parent: RDD[T], slices: IndexedSeq[Slice])
      extends RDD[T](parent.sparkContext, Seq(new NarrowDependency[T](parent) {
        def getParents(partitionId: Int): Seq[Int] = Seq(slices(partitionId).parent)
      })) {

    override protected def getPartitions: Array[Partition] =
      Array.tabulate[Partition](slices.length)(SlicePartition)

    override def compute(split: Partition, context: TaskContext): Iterator[T] = {
      val s = slices(split.index)
      val rows = firstParent[T].iterator(firstParent[T].partitions(s.parent), context)
      var skip = s.from
      while (skip > 0 && rows.hasNext) { rows.next(); skip -= 1 }
      var left = s.until - s.from
      new Iterator[T] {
        def hasNext: Boolean = left > 0 && rows.hasNext
        def next(): T = { left -= 1; rows.next() }
      }
    }

    override protected def getPreferredLocations(split: Partition): Seq[String] =
      firstParent[T].preferredLocations(firstParent[T].partitions(slices(split.index).parent))
  }
}
