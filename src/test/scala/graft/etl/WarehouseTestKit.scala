package graft.etl

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** What specs ask of a warehouse table's committed state, answered from
  * its manifest rather than from its directory. */
object WarehouseTestKit {
  /** The live data files of `table`'s latest version. */
  def files(wh: Warehouse, layer: String, table: String): Seq[Warehouse.DataFile] =
    wh.snapshot(layer, table).tables(table).files

  /** The values of partition column `c` among `table`'s live files. */
  def partitionValues(wh: Warehouse, layer: String, table: String,
                      c: String): Set[String] = {
    val t = wh.snapshot(layer, table).tables(table)
    t.files.map(_.partition(t.partCols.indexOf(c))).toSet
  }

  /** A clock past the retention of everything written so far. */
  def afterRetention: Long = System.currentTimeMillis() + Warehouse.Retention + 60000L

  /** Every file under the table (or group) directory `owner`, relative
    * to it, checksum files aside. */
  def onDisk(wh: Warehouse, layer: String, owner: String): Set[String] = {
    val dir = Paths.get(wh.path(layer, owner))
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.endsWith(".crc"))
      .map(p => dir.relativize(p).toString).toSet
    finally s.close()
  }

  /** Data files under `owner` that its latest version does not reference
    * (`_SUCCESS` markers included: they belong to no version either). */
  def unreferenced(wh: Warehouse, layer: String, owner: String): Set[String] = {
    val snap = wh.snapshot(layer, owner)
    val live = snap.tables.values.flatMap(_.files.map(_.path)).toSet
    onDisk(wh, layer, owner).filterNot(p => live(p) || p.startsWith("_log"))
  }

  def log(wh: Warehouse, layer: String, owner: String): Path =
    Paths.get(wh.path(layer, owner), "_log")
}
