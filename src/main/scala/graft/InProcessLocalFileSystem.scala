package graft

import java.io.{FileNotFoundException, IOException}
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.{FileTime, GroupPrincipal, UserPrincipal}
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, FileStatus,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The engine's `file://` filesystem: Hadoop's checksummed local
  * filesystem over a raw one that starts no process per file. Without
  * the Hadoop native library the stock `RawLocalFileSystem` forks a
  * `chmod` for every file, `.crc` file and directory it creates, and an
  * `ls -ld` for every status whose permission, owner or group is read.
  * Here both go through the JDK's `unix` file-attribute view, in
  * process, and give the stock values (InProcessLocalFileSystemSpec).
  * Where the JDK has no `unix` view (Windows) every call is the stock
  * one. A create without overwrite is exclusive, as Hadoop's contract
  * asks and the stock local one is not. Bound by [[GraftSession]] as
  * `fs.file.impl`. */
class InProcessLocalFileSystem
    extends LocalFileSystem(new InProcessLocalFileSystem.Raw)

object InProcessLocalFileSystem {
  private val unixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  // one stat: what the stock status reads through java.io.File plus `ls -ld`
  private val statusAttrs =
    "unix:size,isDirectory,lastModifiedTime,lastAccessTime,mode,owner,group"

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!unixView) super.setPermission(p, permission)
      else Files.setAttribute(pathToFile(p).toPath, "unix:mode",
        Int.box(permission.toShort.toInt))

    override def getFileStatus(f: Path): FileStatus =
      if (!unixView) super.getFileStatus(f)
      else {
        val file = pathToFile(f)
        val a = try Files.readAttributes(file.toPath, statusAttrs)
        catch {
          case _: NoSuchFileException =>
            throw new FileNotFoundException(s"File $f does not exist")
        }
        def millis(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
        new FileStatus(a.get("size").asInstanceOf[Long],
          a.get("isDirectory").asInstanceOf[Boolean], 1,
          getDefaultBlockSize(f), millis("lastModifiedTime"),
          millis("lastAccessTime"),
          // 0x3ff = 01777: the rwx bits and the sticky bit
          new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
          a.get("owner").asInstanceOf[UserPrincipal].getName,
          a.get("group").asInstanceOf[GroupPrincipal].getName,
          new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
      }

    // The stock create without overwrite checks that the file is absent
    // and then opens it, so two racing creators both succeed: two writers
    // of LakeMaintenance.writeSnapshotVersion then claimed one version
    // and wrote into the same directory. Creating the file exclusively
    // first makes the check and the creation one step. The checksummed
    // filesystem creates its data files through this overload.
    override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                        bufferSize: Int, replication: Short, blockSize: Long,
                        progress: Progressable): FSDataOutputStream = {
      if (!overwrite) {
        val parent = f.getParent
        if (parent != null && !mkdirs(parent))
          throw new IOException(s"Mkdirs failed to create $parent")
        try Files.createFile(pathToFile(f).toPath)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"File already exists: $f")
        }
      }
      super.create(f, permission, true, bufferSize, replication, blockSize, progress)
    }

    // a directory's entries already come through getFileStatus; the stock
    // status of a plain file would still read its permission through `ls`
    override def listStatus(f: Path): Array[FileStatus] =
      if (unixView && !pathToFile(f).isDirectory) Array(getFileStatus(f))
      else super.listStatus(f)
  }
}
