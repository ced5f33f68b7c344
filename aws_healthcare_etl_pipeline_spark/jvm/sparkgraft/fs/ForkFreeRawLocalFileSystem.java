package sparkgraft.fs;

import java.io.File;
import java.io.IOException;
import java.nio.file.FileSystems;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * RawLocalFileSystem without the per-call process launches.
 *
 * <p>Without a native libhadoop the stock class runs {@code chmod} for every
 * permission it sets and {@code readlink} for every link-status lookup (each
 * FileContext rename makes several). Both answers are available in-process
 * through java.nio; where nio cannot give the same result, the stock method
 * runs.
 */
public class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  private static final boolean POSIX =
      FileSystems.getDefault().supportedFileAttributeViews().contains("posix");

  /** Same rwx bits as the stock {@code chmod %04o}; the sticky bit has no nio form. */
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    short mode = permission.toShort();
    if (!POSIX || (mode & 01000) != 0) {
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (PosixFilePermission bit : PosixFilePermission.values()) {
      // OWNER_READ .. OTHERS_EXECUTE are declared in bit order 0400 .. 0001
      if ((mode & (0400 >> bit.ordinal())) != 0) {
        perms.add(bit);
      }
    }
    try {
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    } catch (NoSuchFileException | UnsupportedOperationException e) {
      super.setPermission(p, permission);  // the stock error, or a non-POSIX store
    }
  }

  /**
   * The stock method asks {@code readlink} about {@code new File(f.toString())}
   * and, when it prints nothing, returns {@code getFileStatus(f)}. Only a real
   * symlink at that same path needs the stock method.
   */
  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (!Files.isSymbolicLink(new File(f.toString()).toPath())) {
      return getFileStatus(f);
    }
    return super.getFileLinkStatus(f);
  }
}
