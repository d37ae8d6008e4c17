package bdefa.localfs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/**
 * Hadoop's {@code RawLocalFs} over {@link NoForkRawLocalFileSystem}: the same delegate and
 * overrides, which {@code RawLocalFs}'s package-private constructors keep from subclassing.
 */
public class NoForkRawLocalFs extends DelegateToFileSystem {
  public NoForkRawLocalFs(URI theUri, Configuration conf) throws IOException, URISyntaxException {
    // like RawLocalFs, bind to file:/// whatever path the caller's URI names
    super(FsConstants.LOCAL_FS_URI, new NoForkRawLocalFileSystem(), conf,
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
