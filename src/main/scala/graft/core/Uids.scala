package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions

import graft.functions.Lowercase

/** Global UID space for the derived triple store.
  *
  * The reference identifies every node by a uint64 uid allocated by Zero
  * (/root/reference/x/keys.go:201 DataKey = attr|0x00|uid). We derive uids
  * deterministically from the relational keys instead, giving each entity
  * type a disjoint range: uid = typeTag * 10^12 + naturalKey. The decimal
  * base keeps the arithmetic trivially expressible in the DuckDB oracle SQL.
  */
object Uids {
  val Base: Long = 1000000000000L // 10^12

  val Region: Long   = 1L * Base
  val Nation: Long   = 2L * Base
  val Customer: Long = 3L * Base
  val Supplier: Long = 4L * Base
  val Part: Long     = 5L * Base
  val Order: Long    = 6L * Base
  // lineitem has a composite key (orderkey, linenumber); linenumber <= 7.
  val Line: Long     = 7L * Base
  val Document: Long = 8L * Base
  val Embedding: Long = 9L * Base
  val Event: Long    = 10L * Base

  def lineUid(orderkey: Long, linenumber: Int): Long =
    Line + orderkey * 10L + linenumber

  /** A uid column as lowercase hex without the `0x` prefix, as
    * `java.lang.Long.toHexString` renders a collected uid: a negative
    * value in two's complement, null for null. That is what
    * `lower(conv(x, 10, 16))` renders, without Spark's `lower()` (see
    * [[graft.functions.Lowercase]]), except for `Long.MinValue`, whose
    * magnitude overflows `conv` into the hex of -1.
    */
  def hex(uid: Column): Column = Lowercase(functions.hex(uid.cast("long")))
}
