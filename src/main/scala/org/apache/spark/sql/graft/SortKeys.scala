package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.internal.SortOrder
import org.apache.spark.sql.internal.SortOrder.{Ascending, Descending, NullsFirst, NullsLast}

/** Sort-key bridge for order mirroring.
  *
  * A `Column`'s sort direction and null ordering live in its
  * `SortOrder` node, which is `private[sql]`; this one-hop shim compiles
  * inside the package boundary (the technique
  * `org.apache.spark.graft.Storage` uses for `private[spark]`) and only
  * reads and rebuilds that node.
  */
object SortKeys {

  /** The key that sorts rows in exactly the opposite order:
    * asc nulls first ↔ desc nulls last, asc nulls last ↔ desc nulls
    * first. A bare column sorts like `asc` (nulls first), as it does in
    * `Window.orderBy`.
    */
  def reverse(key: Column): Column = {
    val o = key.sortOrder
    new Column(SortOrder(o.child,
      if (o.sortDirection == Ascending) Descending else Ascending,
      if (o.nullOrdering == NullsFirst) NullsLast else NullsFirst))
  }
}
