package hedera_etl_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

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
 * Hadoop's checksummed local filesystem ({@code fs.file.impl}) over
 * {@link NioRawLocalFileSystem}: same {@code .crc} sidecars and read-side
 * verification as {@link LocalFileSystem}, without a child process per file.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}

/**
 * {@link RawLocalFileSystem} with its two shell-outs replaced by java.nio.
 * Without native libhadoop, the parent forks {@code chmod} for every file and
 * directory it creates and {@code readlink} for every link-status lookup
 * (twice per FileContext rename).  Anything this class cannot express in
 * java.nio goes to the parent unchanged.
 */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if ((permission.toShort() & ~0777) != 0) {  // sticky bit: only chmod sets it
      super.setPermission(p, permission);
      return;
    }
    String rwx = permission.getUserAction().SYMBOL + permission.getGroupAction().SYMBOL
        + permission.getOtherAction().SYMBOL;
    try {
      Files.setPosixFilePermissions(pathToFile(p).toPath(), PosixFilePermissions.fromString(rwx));
    } catch (UnsupportedOperationException e) {  // not a POSIX store
      super.setPermission(p, permission);
    }
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (!Files.isSymbolicLink(pathToFile(f).toPath())) {
      return getFileStatus(f);  // what the parent returns for a non-link
    }
    return super.getFileLinkStatus(f);
  }
}

/**
 * The {@code FileContext} twin ({@code fs.AbstractFileSystem.file.impl}),
 * shaped like Hadoop's {@code LocalFs} / {@code RawLocalFs} pair; Spark's
 * streaming checkpoint writes through it.
 */
class NioLocalFs extends ChecksumFs {
  NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new Raw(conf));
  }

  private static final class Raw extends DelegateToFileSystem {
    Raw(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;  // no default port for file:///
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
      return true;  // the OS validates local names
    }
  }
}
