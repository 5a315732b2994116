package graft.streaming

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.streaming.StreamingQuery

/** `RawLocalFileSystem` whose chmod and link-status check are system
  * calls instead of child processes. Without a native `libhadoop` the
  * stock class runs `chmod` (`setPermission` → `Shell.execCommand`)
  * after every file create and mkdir, and `readlink`
  * (`FileUtil.readLink`) on every `getFileLinkStatus`, which
  * `AbstractFileSystem.renameInternal` calls for both ends of every
  * rename. A streaming checkpoint pays both for each offset, commit
  * and state-store delta file, its Spark `.crc` and their Hadoop `.crc`
  * sidecars: ~500 spawns per 4-trigger drain at 4 state partitions.
  * Same files, same modes: only the system calls change. */
class ForkFreeLocalFileSystem extends RawLocalFileSystem {

  /** The 9 rwx bits through `Files.setPosixFilePermissions` (which,
    * like `chmod`, follows a symlink); a mode with the sticky bit
    * keeps the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val rwx = Seq(permission.getUserAction, permission.getGroupAction,
        permission.getOtherAction).map(_.SYMBOL).mkString
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(rwx))
    }

  /** What the stock method returns once `readlink` prints nothing: the
    * plain status of a path that is not a symlink (tested on the same
    * `File(f.toString)` that `FileUtil.readLink` reads). A real
    * symlink keeps the stock path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `org.apache.hadoop.fs.local.RawLocalFs` over
  * [[ForkFreeLocalFileSystem]]: the same overrides (default port −1,
  * `LocalConfigKeys` server defaults, every name valid; symlink
  * support comes from the delegate as in the stock class). */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `org.apache.hadoop.fs.local.LocalFs` over [[ForkFreeRawLocalFs]]:
  * Hadoop `.crc` sidecars are still written and renamed with their
  * file, and every read that verifies them on `LocalFs` verifies them
  * here (`open(path, bufferSize)`; the one-argument `open` skips them
  * on both, through `FilterFs.open(Path)`). Selected per query through
  * `fs.AbstractFileSystem.file.impl` by [[LocalCheckpointFs.runToEnd]].
  * The constructor signature is the one `AbstractFileSystem.get`
  * instantiates reflectively; like `LocalFs` it ignores the URI. */
class LocalCheckpointFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(FsConstants.LOCAL_FS_URI, conf))

object LocalCheckpointFs {

  /** The Hadoop key naming the `file:` scheme's `AbstractFileSystem`,
    * the one the checkpoint `FileContext`s read. */
  val ImplKey = "fs.AbstractFileSystem.file.impl"

  /** Start a streaming query, run it until its source drains, stop it
    * and unload its state stores, with its checkpoint and state-store
    * I/O on [[LocalCheckpointFs]].
    *
    * The session conf `ImplKey` is set before `start` and restored in
    * `finally` (the conf is session-global, like
    * `spark.sql.shuffle.partitions` under `withStatePartitions`). The
    * stream thread clones the session, conf included, when the query
    * starts, and `SessionState.newHadoopConf` copies SQL confs into the
    * Hadoop conf the offset, commit and source logs and the state-store
    * RDD open their `FileContext`s with. The `FileSystem`-API writes
    * (the parquet sinks) keep the cached stock filesystem.
    *
    * `q.stop()` does NOT unload the query's state-store providers: they
    * stay in the JVM-wide loaded-provider map with their in-heap
    * loadedMaps, and the shared maintenance task keeps scanning them.
    * Over a session running dozens of independent drains that is
    * cross-query interference by construction, so they are unloaded
    * here; the next streaming query restarts maintenance lazily. */
  def runToEnd(s: SparkSession)(start: => StreamingQuery): Unit = {
    val prev = s.conf.getOption(ImplKey)
    s.conf.set(ImplKey, classOf[LocalCheckpointFs].getName)
    try {
      val q = start
      try q.processAllAvailable()
      finally {
        q.stop()
        StateStore.stop()
      }
    } finally prev.fold(s.conf.unset(ImplKey))(s.conf.set(ImplKey, _))
  }
}
