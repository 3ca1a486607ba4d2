package graft.etl

/** Second-JVM reader for `CrossProcessWarehouseSpec`: reads a warehouse
  * another process is committing to, the way a Verify or bench run reads
  * a live ingest driver's warehouse.
  *
  *   WarehouseReaderProcess <root> <layer> <tables> <iters> [<group>]
  *
  * Each iteration pins ONE version ([[Warehouse.snapshot]]) and reads
  * every table of `<tables>` (comma-separated) from it. The writer stamps
  * each version into its rows, so a read is checked against the version
  * it pinned:
  *   - one table (no group): version v holds exactly v rows, each with
  *     `v = v`;
  *   - a group: every row of every member carries the same generation
  *     `g`.
  *
  * stdout: `READY` once the session is up, `FAILED <class>: <message>`
  * for every read that threw, `MIXED ...` for an inconsistent read, and
  * `READER ok=<n> versions=<m>` at the end (m = distinct versions seen).
  * Exit codes: 0 = every read succeeded and was consistent, 2 = a mixed
  * read, 3 = no read succeeded, 4 = a read failed.
  */
object WarehouseReaderProcess {
  def main(args: Array[String]): Unit = {
    val Array(root, layer, tablesArg, itersS) = args.take(4)
    val group = args.lift(4)
    val tables = tablesArg.split(',').toSeq
    val spark = graft.Sessions.build(2)
    val wh = Warehouse(root)
    println("READY")
    var ok = 0
    var failed = 0
    val seen = scala.collection.mutable.Set.empty[Long]
    def mixed(what: String): Unit = {
      println(s"MIXED $what")
      spark.stop()
      sys.exit(2)
    }
    (1 to itersS.toInt).foreach { _ =>
      try {
        val snap = wh.snapshot(layer, group.getOrElse(tables.head))
        val stamps = tables.map(t =>
          snap.read(spark, t).select(if (group.isEmpty) "v" else "g")
            .collect().map(_.getLong(0)).toSeq)
        val distinct = stamps.flatten.distinct
        if (distinct.length != 1) mixed(s"version ${snap.version}: stamps ${distinct.mkString(",")}")
        if (group.isEmpty && stamps.head.length != distinct.head.toInt)
          mixed(s"version ${snap.version}: ${stamps.head.length} rows of v=${distinct.head}")
        seen += snap.version
        ok += 1
      } catch {
        case t: Throwable =>
          failed += 1
          println(s"FAILED ${t.getClass.getName}: " +
            Option(t.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse(""))
      }
    }
    println(s"READER ok=$ok versions=${seen.size}")
    spark.stop()
    if (failed > 0) sys.exit(4)
    if (ok == 0) sys.exit(3)
  }
}
