package sparkgraft.fs;

import org.apache.hadoop.fs.LocalFileSystem;

/**
 * {@code fs.file.impl}: the checksummed LocalFileSystem over
 * {@link ForkFreeRawLocalFileSystem}. It must be a LocalFileSystem, because
 * {@code FileSystem.getLocal} casts to it.
 */
public class ForkFreeLocalFileSystem extends LocalFileSystem {
  public ForkFreeLocalFileSystem() {
    super(new ForkFreeRawLocalFileSystem());
  }
}
