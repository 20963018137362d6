package graft;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsAction;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system, setting permissions in-process.
 *
 * <p>Without Hadoop's native library, {@code RawLocalFileSystem.setPermission}
 * starts a {@code chmod} process, and {@code create()} and {@code mkdirs()}
 * call it for every file and directory. This class sets the same mode with
 * {@code java.nio}. NIO cannot set the sticky bit, so such a mode still goes
 * through Hadoop's own path.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> mode = EnumSet.noneOf(PosixFilePermission.class);
      add(mode, permission.getUserAction(), PosixFilePermission.OWNER_READ,
          PosixFilePermission.OWNER_WRITE, PosixFilePermission.OWNER_EXECUTE);
      add(mode, permission.getGroupAction(), PosixFilePermission.GROUP_READ,
          PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE);
      add(mode, permission.getOtherAction(), PosixFilePermission.OTHERS_READ,
          PosixFilePermission.OTHERS_WRITE, PosixFilePermission.OTHERS_EXECUTE);
      Files.setPosixFilePermissions(pathToFile(p).toPath(), mode);
    }

    private static void add(Set<PosixFilePermission> mode, FsAction action,
        PosixFilePermission read, PosixFilePermission write, PosixFilePermission execute) {
      if (action.implies(FsAction.READ)) {
        mode.add(read);
      }
      if (action.implies(FsAction.WRITE)) {
        mode.add(write);
      }
      if (action.implies(FsAction.EXECUTE)) {
        mode.add(execute);
      }
    }
  }
}
