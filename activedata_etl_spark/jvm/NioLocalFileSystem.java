package activedata_etl_spark;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem, with permissions set in-process.
 *
 * <p>Without the native Hadoop library, {@link RawLocalFileSystem#setPermission}
 * runs a {@code chmod} process, and it is called for every file created and
 * every directory made (data files, {@code .crc} sidecars, task attempt dirs,
 * bucket dirs, {@code _SUCCESS}).  {@link Raw} sets the same 9 mode bits
 * through {@link Files#setPosixFilePermissions}; everything else, the
 * {@code .crc} layout included, is the stock {@link LocalFileSystem}.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** {@link RawLocalFileSystem} whose only change is {@link #setPermission}. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      // declared OWNER_READ (0400) first, OTHERS_EXECUTE (0001) last
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          perms.add(bit);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (NoSuchFileException e) {
        throw new FileNotFoundException("File " + p + " does not exist");
      }
    }
  }
}
