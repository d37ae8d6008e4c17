package bdefa.localfs;

import java.io.IOException;
import java.net.URI;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;

/**
 * {@code fs.file.impl}: Hadoop's checksummed {@code LocalFileSystem} over
 * {@link NoForkRawLocalFileSystem}.
 *
 * <p>It keeps the rename rule of the class it stands in for, the one Hadoop's service loader
 * finds for {@code file:}.  In a Spark build with Hive that is Hive's
 * {@code ProxyLocalFileSystem}, a {@code LocalFileSystem} whose rename never replaces a file.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {
  private static final String HIVE_PROXY = "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem";

  private boolean renameKeepsFiles;

  public NoForkLocalFileSystem() {
    super(new NoForkRawLocalFileSystem());
  }

  @Override
  public void initialize(URI name, Configuration conf) throws IOException {
    super.initialize(name, conf);
    Configuration stock = new Configuration(conf);
    stock.unset("fs.file.impl");
    renameKeepsFiles = FileSystem.getFileSystemClass("file", stock).getName().equals(HIVE_PROXY);
  }

  @Override
  @SuppressWarnings("deprecation")  // isFile, as Hive's rename calls it
  public boolean rename(Path src, Path dst) throws IOException {
    return !(renameKeepsFiles && isFile(dst)) && super.rename(src, dst);
  }
}
