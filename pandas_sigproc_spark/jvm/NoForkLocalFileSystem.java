package pandas_sigproc_spark.jvm;

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
 * The stock {@code file:} filesystem, except that setting a permission
 * does not fork {@code chmod}.  Without Hadoop's native libhadoop,
 * {@link RawLocalFileSystem#setPermission} runs {@code chmod} in a child
 * process for every file and directory it creates (about 3 ms each);
 * here it sets the same mode through {@code java.nio}.  Checksums,
 * umask handling and the modes on disk are the stock ones.
 *
 * <p>Built into {@code NoForkLocalFileSystem.jar} beside this file by
 * {@code build.sh}.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {
  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  /** The raw filesystem with a fork-free {@code setPermission}. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      // PosixFilePermission has no sticky bit: that one keeps the stock path.
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      short mode = permission.toShort();
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        // OWNER_READ .. OTHERS_EXECUTE run from 0400 down to 0001.
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          perms.add(bit);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException notPosix) {
        super.setPermission(p, permission);
      }
    }
  }
}
