package capstone.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed LocalFileSystem (same .crc sidecars, same read-side
 * verification, same modes) whose raw file system sets POSIX permissions
 * in-process. Without the native Hadoop library, RawLocalFileSystem runs one
 * chmod process per file, checksum file and directory it creates.
 */
public class PosixLocalFileSystem extends LocalFileSystem {
  public PosixLocalFileSystem() {
    super(new Raw());
  }

  /** Refuses to rename onto an existing file, as Hive's ProxyLocalFileSystem
   * does: pyspark's jars register it as the default for file://. */
  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {  // PosixFilePermission has no sticky bit
        super.setPermission(p, permission);
        return;
      }
      // the same bits chmod gets from toShort(); toString() is overridden by
      // subclasses such as FsCreateModes
      String mode = permission.getUserAction().SYMBOL
          + permission.getGroupAction().SYMBOL + permission.getOtherAction().SYMBOL;
      Files.setPosixFilePermissions(pathToFile(p).toPath(), PosixFilePermissions.fromString(mode));
    }
  }
}
