package org.apache.spark.sql.execution.columnar

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.DataType

/** The size figure `InMemoryRelation` reports for a cached relation,
  * measured without building its column buffers. The cache sums, over
  * every column of every row, what the column's `ColumnStats` adds for
  * the value (its encoded width, 4 bytes for a null); `ColumnStats` is
  * package-private, hence this object's package.
  */
object CachedSize {

  /** Per partition of rows typed `types`: (row count, cache bytes). */
  def ofPartition(types: Seq[DataType]): Iterator[InternalRow] => (Long, Long) =
    rows => {
      // the builder only picks the stats class the cache picks for the
      // type; its buffers are never written
      val stats = types.map(ColumnBuilder(_, 1).columnStats).toArray
      var n = 0L
      while (rows.hasNext) {
        val row = rows.next()
        var i = 0
        while (i < stats.length) {
          stats(i).gatherStats(row, i)
          i += 1
        }
        n += 1
      }
      (n, stats.iterator.map(_.sizeInBytes).sum)
    }
}
