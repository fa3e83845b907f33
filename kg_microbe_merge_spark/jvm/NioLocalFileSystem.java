package kgspark;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's local filesystem, minus two per-file costs. Without libhadoop,
 * RawLocalFileSystem sets the mode of every file it creates and every
 * directory it makes by forking {@code chmod}; this one sets it through
 * java.nio. It writes and verifies no {@code .crc} sidecar files: parquet
 * pages carry their own CRCs. It extends LocalFileSystem so that
 * {@code FileSystem.getLocal}'s cast holds.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
    setWriteChecksum(false);
    setVerifyChecksum(false);
  }

  static class Raw extends RawLocalFileSystem {
    /** Hadoop has applied its umask to {@code perm} already. */
    @Override
    public void setPermission(Path p, FsPermission perm) throws IOException {
      if (perm.getStickyBit()) {
        super.setPermission(p, perm);
        return;
      }
      // PosixFilePermission lists owner rwx, group rwx, others rwx
      short bits = perm.toShort();
      Set<PosixFilePermission> mode = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        if ((bits & (0400 >> bit.ordinal())) != 0) {
          mode.add(bit);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), mode);
    }
  }
}
