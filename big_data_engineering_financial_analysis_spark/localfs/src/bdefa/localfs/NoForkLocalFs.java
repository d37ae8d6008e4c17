package bdefa.localfs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;

/**
 * {@code fs.AbstractFileSystem.file.impl}, the {@code FileContext} side that Spark's
 * checkpoint file manager uses: Hadoop's {@code LocalFs}, a {@code ChecksumFs}, over
 * {@link NoForkRawLocalFs}.
 */
public class NoForkLocalFs extends ChecksumFs {
  public NoForkLocalFs(URI theUri, Configuration conf) throws IOException, URISyntaxException {
    super(new NoForkRawLocalFs(theUri, conf));
  }
}
