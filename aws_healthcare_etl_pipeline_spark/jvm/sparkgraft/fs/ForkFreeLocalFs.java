package sparkgraft.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/**
 * {@code fs.AbstractFileSystem.file.impl}: the FileContext counterpart of
 * {@link ForkFreeLocalFileSystem}, used by the streaming checkpoint's
 * FileContextBasedCheckpointFileManager. It is Hadoop's LocalFs with
 * {@link ForkFreeRawLocalFileSystem} in place of RawLocalFileSystem.
 */
public class ForkFreeLocalFs extends ChecksumFs {
  public ForkFreeLocalFs(URI theUri, Configuration conf)
      throws IOException, URISyntaxException {
    super(new Raw(conf));
  }

  /** Mirrors Hadoop's RawLocalFs, whose constructors are package-private. */
  private static final class Raw extends DelegateToFileSystem {
    Raw(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem(), conf,
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
