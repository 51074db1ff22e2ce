package agrospark;

import java.io.File;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system for {@code file:}, without a
 * child process per file.
 *
 * <p>Without the native Hadoop library, {@link RawLocalFileSystem} runs
 * {@code chmod} for every file and directory it creates with a
 * permission, and {@code readlink} for every link-status lookup (each
 * {@code FileContext} rename). {@link Raw} sets the same mode bits with
 * {@code java.nio} and looks a link up only where one is; everything
 * else, {@code .crc} checksums included, is Hadoop's own code.
 * {@code fs.file.impl} names this class (the {@code FileSystem} API) and
 * {@code fs.AbstractFileSystem.file.impl} names {@link Fs} (the
 * {@code FileContext} API that Spark's streaming checkpoints use).
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** {@code RawLocalFileSystem} with in-process chmod and link lookup. */
  static final class Raw extends RawLocalFileSystem {

    // PosixFilePermission's declaration order is the mode's bit order,
    // owner read (0400) to others execute (0001).
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        // the sticky bit has no java.nio form
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      // super runs readlink on this same File and falls back to
      // getFileStatus when it names no symlink
      if (Files.isSymbolicLink(new File(f.toString()).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }

  /**
   * The {@code FileContext} binding: Hadoop's {@code LocalFs} over {@link Raw}.
   * Hadoop constructs it by reflection with (URI, Configuration); like
   * {@code LocalFs} it serves {@code file:///} whatever the URI.
   */
  public static final class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** Hadoop's {@code RawLocalFs} over {@link Raw}. */
  static final class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
