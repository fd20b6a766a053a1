package flink_1_6_0_spark.jvm;

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
 * Hadoop's checksummed local filesystem whose raw layer sets a file's mode
 * with one chmod(2) through java.nio. Without the native Hadoop library,
 * RawLocalFileSystem.setPermission starts /bin/chmod for every created file,
 * its .crc sibling and every directory (about 5 ms each); the .crc files are
 * still written and checked by the LocalFileSystem layer.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** RawLocalFileSystem with a fork-free setPermission for plain modes. */
  public static class Raw extends RawLocalFileSystem {
    // PosixFilePermission's declaration order is rwx for owner, group, others
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission); // sticky or setuid: Hadoop's own path
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < 9; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException e) {
        super.setPermission(p, permission); // not a POSIX filesystem
      }
    }
  }
}
