package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}

/** File arrivals for the streams that replay staged batches
  * (IncrementalIngest, CdcApply): a batch arrives when its parquet
  * part files appear in the watched directory between
  * `processAllAvailable()` calls.
  */
private[streaming] object Arrivals {

  /** Copy `from`'s parquet part files into `to` as `<prefix>_<name>`.
    * Each copy lands under a .tmp name (invisible to the *.parquet
    * glob) and is atomically renamed into place — a plain copy straight
    * to the final name can be listed half-written by a running source.
    */
  def copyIn(from: Path, to: Path, prefix: String): Unit = {
    val listing = Files.list(from)
    try listing.filter(_.getFileName.toString.endsWith(".parquet"))
      .forEach { f =>
        val tmp = to.resolve(s"${prefix}_${f.getFileName}.tmp")
        Files.copy(f, tmp)
        Files.move(tmp, to.resolve(s"${prefix}_${f.getFileName}"),
          StandardCopyOption.ATOMIC_MOVE)
      }
    finally listing.close()
  }
}
