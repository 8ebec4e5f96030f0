package perfbench

import graft.world.World
import org.apache.spark.sql.DataFrame

object Common {
  /** Bytes of `rows` written compactly: one plain parquet file, outside the
    * timed phase. The base of write and space amplification. */
  def compactBytes(ctx: Ctx, rows: DataFrame, name: String): Double = {
    val out = s"${ctx.dir}/compact/$name"
    rows.coalesce(1).write.mode("overwrite").parquet(out)
    val bytes = TreeStats.of(out).files.collect {
      case (n, sz) if n.endsWith(".parquet") => sz
    }.sum
    deleteTree(out)
    bytes.toDouble
  }

  /** File-level state of the worlds' trees: live files as the engine plans
    * them (`Dataset.inputFiles`) against the files on disk. */
  def sourceState(worlds: Seq[World]): Map[String, Double] = {
    val per = worlds.map { w =>
      val live = w.df.inputFiles.toSeq.distinct
      val perCell = live.groupBy(f => f.substring(0, f.lastIndexOf('/'))).values.map(_.size)
      (live.size, TreeStats.of(w.path), if (perCell.isEmpty) 0 else perCell.max)
    }
    val live = per.map(_._1).sum.toDouble
    val disk = per.map(_._2.dataFiles).sum.toDouble
    Map("sources.live_files" -> live, "sources.disk_files" -> disk,
      "sources.retired_files" -> (disk - live),
      "sources.dv_files" -> per.map(_._2.dvFiles).sum.toDouble,
      "sources.manifests" -> per.map(_._2.manifests).sum.toDouble,
      "sources.bytes_on_disk" -> per.map(_._2.bytes).sum.toDouble,
      "sources.max_files_per_cell" -> per.map(_._3).max.toDouble)
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val it = java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      it.forEach(f => java.nio.file.Files.delete(f))
    }
  }
}
