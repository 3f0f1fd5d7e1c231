package crane_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The {@code file:} filesystem of a local crane_spark session
 * (crane_spark/session.py). Without Hadoop's native library,
 * {@code RawLocalFileSystem.setPermission} forks a {@code chmod} process,
 * and every {@code create} calls it, twice with the checksum file. Here
 * it is one {@code chmod(2)} through java.nio; modes with bits NIO cannot
 * set (sticky, setuid, setgid) still go to the inherited {@code chmod}.
 * {@code rename} refuses an existing file target, like Hive's
 * {@code ProxyLocalFileSystem} that serves {@code file:} otherwise, and
 * HDFS.
 */
public class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {

  public LocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }

  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  public static class NioRawLocalFileSystem extends RawLocalFileSystem {

    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      // PosixFilePermission lists OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : BITS) {
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          perms.add(bit);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
