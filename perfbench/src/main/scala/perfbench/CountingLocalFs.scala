package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local Hadoop file system with process-wide counts of the files
  * it creates, renames and deletes. Installed as `fs.file.impl` in
  * traced runs only. Streaming checkpoints written through
  * `FileContext` bypass it; their cost is read from the batch terms. */
class CountingLocalFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountingLocalFs.creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingLocalFs.creates.incrementAndGet()
    super.createNonRecursive(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    CountingLocalFs.renames.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    CountingLocalFs.deletes.incrementAndGet()
    super.delete(f, recursive)
  }
}

object CountingLocalFs {
  val creates, renames, deletes = new AtomicLong()

  def snapshot(): Seq[Long] = Seq(creates.get, renames.get, deletes.get)
}
