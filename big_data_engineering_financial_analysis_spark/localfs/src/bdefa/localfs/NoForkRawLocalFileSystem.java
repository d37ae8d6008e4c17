package bdefa.localfs;

import java.io.File;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * A {@link RawLocalFileSystem} that sets modes and reads link status in-process.
 *
 * <p>Without the native libhadoop, {@code RawLocalFileSystem} forks {@code chmod} in
 * {@link #setPermission} (once for every file or directory it creates, and again for the
 * file's {@code .crc}) and {@code readlink} in {@link #getFileLinkStatus} (twice or more for
 * every {@code FileContext} rename).  This class gets the same results from {@code java.nio}
 * and calls Hadoop's own code wherever {@code java.nio} could give a different one.
 */
public class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  /** setuid, setgid and sticky: bits that {@code java.nio} can neither set nor keep. */
  private static final int SPECIAL_BITS = 07000;

  /**
   * {@code chmod} through {@code java.nio}, which follows a symlink as {@code chmod} does.
   * Hadoop's code runs instead for a sticky bit, on a file that has a special bit now (a
   * numeric {@code chmod} keeps a directory's setgid bit, {@code java.nio} clears it) and
   * on a store without POSIX modes.
   */
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    short mode = permission.toShort();
    java.nio.file.Path file = pathToFile(p).toPath();
    if ((mode & SPECIAL_BITS) != 0 || !plainPosixMode(file)) {
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    // the enum runs from OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
    for (PosixFilePermission perm : PosixFilePermission.values()) {
      if ((mode & (0400 >> perm.ordinal())) != 0) {
        perms.add(perm);
      }
    }
    Files.setPosixFilePermissions(file, perms);
  }

  private static boolean plainPosixMode(java.nio.file.Path file) throws IOException {
    try {
      return ((Integer) Files.getAttribute(file, "unix:mode") & SPECIAL_BITS) == 0;
    } catch (UnsupportedOperationException | IllegalArgumentException e) {
      return false;
    }
  }

  /**
   * Hadoop's answer without its {@code readlink}.  Hadoop reads the link of the file named
   * {@code f.toString()}, for a qualified path a {@code "file:/..."} name that never exists,
   * and when that is no symlink it returns {@code getFileStatus(f)}.  So does this; when it
   * is a symlink, Hadoop's code runs.
   */
  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (Files.isSymbolicLink(new File(f.toString()).toPath())) {
      return super.getFileLinkStatus(f);
    }
    return getFileStatus(f);
  }
}
