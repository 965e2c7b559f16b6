package spider.hadoop;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem (same .crc siblings, same read-side
 * integrity check) with an in-process chmod.  Without libhadoop the stock
 * RawLocalFileSystem.setPermission forks a chmod process for every file and
 * dir it creates; here NIO sets the same rwx bits.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) { // NIO cannot express the sticky bit
        super.setPermission(p, permission);
        return;
      }
      String rwx = permission.getUserAction().SYMBOL
          + permission.getGroupAction().SYMBOL
          + permission.getOtherAction().SYMBOL;
      Files.setPosixFilePermissions(pathToFile(p).toPath(), PosixFilePermissions.fromString(rwx));
    }
  }
}
