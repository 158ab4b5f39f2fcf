package graft.sources.pbf

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Typed appends of decoded elements into a column store, like the
  * reference's Arrow column builders (osm-pbf-parquet/src/sink.rs:181-278):
  * [[BlockDecoder.decode]] drives it, the transcode's parquet writer
  * ([[DirectParquet.ColumnarWriter]]), the scan's row builder and the blob
  * catalog's range fold ([[BlockDecoder.idRanges]]) consume it.
  *
  * An element is `id`, any other appends, then `end`. A field with no
  * append is null, except `tags`: an empty map unless `noTags`. `members`
  * marks the member list present. String appends carry the string's index
  * in the current block's string table (`sid`; -1 for any other string),
  * which the parquet writer's dictionary memo keys on.
  */
trait ColumnSink {
  def id(v: Long): Unit
  /** One map entry; `value` may be null. */
  def tag(keySid: Int, key: UTF8String, valueSid: Int, value: UTF8String): Unit
  def noTags(): Unit
  def lat(v: Double): Unit
  def lon(v: Double): Unit
  /** The first `n` of `refs`, delta-decoded. */
  def refs(refs: Array[Long], n: Int): Unit
  def members(): Unit
  /** `tpe` and `role` may be null; `ref` is null unless `hasRef`. */
  def member(tpe: UTF8String, ref: Long, hasRef: Boolean, roleSid: Int, role: UTF8String): Unit
  def changeset(v: Long): Unit
  def timestamp(micros: Long): Unit
  def uid(v: Int): Unit
  def user(sid: Int, v: UTF8String): Unit
  def version(v: Int): Unit
  def visible(v: Boolean): Unit
  /** LocationsOnWays `node_locations`: a column of the scan only. */
  def locations(lats: Array[Double], lons: Array[Double], n: Int): Unit =
    throw new UnsupportedOperationException("node_locations is not a column of this sink")
  def end(): Unit
}

/** A sink per element kind (0 node, 1 way, 2 relation), picked by the
  * decoder per primitive group. */
trait ColumnSinks {
  /** A new block begins: string indices from here on index its table. */
  def block(): Unit
  def sink(kind: Int): ColumnSink
}

object ColumnSink {

  /** Appends one 13-column [[OsmSchema.schema]] row; field 12, `type`,
    * is the caller's routing and not read. */
  def appendRow(row: InternalRow, s: ColumnSink): Unit = {
    s.id(row.getLong(0))
    if (row.isNullAt(1)) s.noTags()
    else {
      val m = row.getMap(1)
      val keys = m.keyArray(); val vals = m.valueArray()
      var i = 0
      while (i < m.numElements()) {
        s.tag(-1, keys.getUTF8String(i), -1, if (vals.isNullAt(i)) null else vals.getUTF8String(i))
        i += 1
      }
    }
    if (!row.isNullAt(2)) s.lat(row.getDouble(2))
    if (!row.isNullAt(3)) s.lon(row.getDouble(3))
    if (!row.isNullAt(4)) {
      val a = row.getArray(4)
      val refs = Array.tabulate(a.numElements())(i => a.getStruct(i, 1).getLong(0))
      s.refs(refs, refs.length)
    }
    if (!row.isNullAt(5)) {
      s.members()
      val a = row.getArray(5)
      var i = 0
      while (i < a.numElements()) {
        val m = a.getStruct(i, 3)
        s.member(if (m.isNullAt(0)) null else m.getUTF8String(0),
          if (m.isNullAt(1)) 0L else m.getLong(1), !m.isNullAt(1),
          -1, if (m.isNullAt(2)) null else m.getUTF8String(2))
        i += 1
      }
    }
    if (!row.isNullAt(6)) s.changeset(row.getLong(6))
    if (!row.isNullAt(7)) s.timestamp(row.getLong(7))
    if (!row.isNullAt(8)) s.uid(row.getInt(8))
    if (!row.isNullAt(9)) s.user(-1, row.getUTF8String(9))
    if (!row.isNullAt(10)) s.version(row.getInt(10))
    if (!row.isNullAt(11)) s.visible(row.getBoolean(11))
    s.end()
  }
}
