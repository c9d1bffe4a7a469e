// Spark's file:// filesystem without a chmod process per file: see
// rustcheatersdatapipeline_spark/session.py. Build (from the repo root):
//   cd rustcheatersdatapipeline_spark/jvm && rm -rf classes && \
//   javac --release 17 -cp "$(python -c 'import pyspark,os;print(os.path.dirname(pyspark.__file__))')/jars/*" \
//     -d classes NoForkLocalFileSystem.java && \
//   jar cf NoForkLocalFileSystem.jar -C classes . && rm -rf classes
package rustcheaters.hadoop;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/** LocalFileSystem (checksummed, .crc sidecars) over a raw filesystem
 *  whose setPermission is a system call, not a spawned chmod. */
public class NoForkLocalFileSystem extends LocalFileSystem {
  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    // PosixFilePermission's declaration order is OWNER_READ .. OTHERS_EXECUTE,
    // i.e. mode bits 0400 down to 0001.
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {  // sticky bit: leave it to chmod
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException e) {  // not a POSIX store
        super.setPermission(p, permission);
      }
    }
  }
}
