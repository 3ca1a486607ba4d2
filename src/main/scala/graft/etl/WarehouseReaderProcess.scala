package graft.etl

/** Second-JVM reader for the cross-process warehouse spec — the only
  * real exercise of [[Warehouse]]'s cross-process story (the JVM-wide
  * rename locks cover one driver; a concurrent Verify run against an
  * ingest driver's warehouse root is two processes).
  *
  * Reads `<layer>/<table>` in a loop and checks each SUCCESSFUL read
  * is internally consistent under the version protocol the spec
  * writes: every row carries the table's version `v` and the table
  * holds exactly `v` rows, so a read that mixed files from two table
  * versions — or saw a half-swapped directory — is detected, not
  * lucky. The documented plain-parquet contract allows a read racing
  * a completing swap to fail LOUDLY (snapshot limitation a manifest
  * format lifts); loud failures are counted and tolerated, PARTIAL
  * reads exit 2 and fail the spec.
  *
  * GROUP mode (5th arg = the group marker; 3rd arg = comma-separated
  * tables): the INGEST-side two-process story — a Verify/bench reader
  * against a live driver's multi-table staged-GROUP promotions. Every
  * row of every group table carries the group's generation `g`; each
  * iteration reads all tables under [[Warehouse.readGroupConsistent]]
  * (the read-only optimistic protocol — a pure reader never writes
  * into a warehouse it doesn't own) and requires exactly ONE distinct
  * generation across the whole group. A read the protocol discards
  * (promotion raced it) counts as loud.
  *
  * stdout protocol: prints `READY` once the session is up (the spec
  * starts swapping then), `READER ok=<n> loud=<m>` at the end.
  * Exit codes: 0 = all successful reads consistent (≥1 success),
  * 2 = a mixed/partial read was observed, 3 = no read ever succeeded.
  */
object WarehouseReaderProcess {
  def main(args: Array[String]): Unit = {
    val Array(root, layer, table, itersS) = args.take(4)
    val groupMarker = args.lift(4)
    val spark = graft.Sessions.build(2)
    val wh = Warehouse(root)
    println("READY")
    var ok = 0
    var loud = 0
    (1 to itersS.toInt).foreach { _ =>
      try {
        groupMarker match {
          case Some(marker) =>
            val tables = table.split(',').toSeq
            wh.readGroupConsistent(layer, marker) {
              tables.flatMap(t => wh.read(spark, layer, t)
                .select("g").collect().map(_.getLong(0)))
            } match {
              case None => loud += 1 // promotion raced the read
              case Some(gs) if gs.isEmpty => loud += 1
              case Some(gs) =>
                val d = gs.distinct
                if (d.length != 1) {
                  println(s"MIXED gens=${d.mkString(",")}")
                  spark.stop()
                  sys.exit(2)
                } else {
                  ok += 1
                  // progress line per accepted read: the spec's writer
                  // gates its next group promotion on this count
                  // advancing, so the reader is never starved of
                  // quiescent windows on a loaded machine (a promotion
                  // discards any read it overlaps — an unthrottled
                  // promoter can race EVERY read when reads are slow)
                  println(s"PROG ok=$ok loud=$loud")
                }
            }
          case None =>
            val vs = wh.read(spark, layer, table)
              .select("v").collect().map(_.getLong(0))
            val distinct = vs.distinct
            if (vs.isEmpty) {
              // a successful read returning zero rows is a momentarily
              // empty snapshot (a swap's rename window), not a version
              // mix — count it like a loud failure, don't fail the
              // spec (r14 ADVICE: this exited 2 on a consistent empty
              // read)
              loud += 1
            } else if (distinct.length != 1 ||
                vs.length != distinct.head.toInt) {
              println(s"MIXED versions=${distinct.mkString(",")} rows=${vs.length}")
              spark.stop()
              sys.exit(2)
            } else ok += 1
        }
      } catch { case _: Throwable => loud += 1 }
    }
    println(s"READER ok=$ok loud=$loud")
    spark.stop()
    if (ok == 0) sys.exit(3)
  }
}
