package milan_spark.jvm;

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
 * Hadoop's local file system (checksummed, {@code .crc} sidecars included)
 * over a raw store that sets file modes in-process. Without libhadoop the
 * stock {@link RawLocalFileSystem#setPermission} forks {@code chmod} for every
 * file and directory it creates.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {
  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      java.nio.file.Path file = pathToFile(p).toPath();
      try {
        // a sticky bit, or a setuid/setgid bit that chmod keeps on a
        // directory, is beyond the nine bits Files can set
        if ((mode & ~0777) == 0 && ((Integer) Files.getAttribute(file, "unix:mode") & 07000) == 0) {
          Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
          for (PosixFilePermission b : PosixFilePermission.values()) {
            if ((mode & (0400 >> b.ordinal())) != 0) {
              bits.add(b);
            }
          }
          Files.setPosixFilePermissions(file, bits);
          return;
        }
      } catch (UnsupportedOperationException | IllegalArgumentException e) {
        // not a POSIX store: chmod decides
      }
      super.setPermission(p, permission);
    }
  }
}
