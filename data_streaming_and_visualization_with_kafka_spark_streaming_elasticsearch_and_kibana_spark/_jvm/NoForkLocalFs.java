package sensorstream.hadoop;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.lang.reflect.Field;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;
import java.util.Map;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * Hadoop's local file systems without a child process per file operation.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem} runs {@code chmod} for
 * every {@code setPermission} (which {@code create} and {@code mkdirs}
 * call) and {@code readlink} for every {@code getFileLinkStatus} (which
 * {@code FileContext} renames call on source and destination). Streaming
 * checkpoints and state-store commits do both for every file of every
 * micro-batch. {@link RawFileSystem} makes the same system calls from the
 * JVM; the other classes are the stock local file systems around it.
 *
 * <ul>
 *   <li>{@code fs.file.impl}: {@link FileSystem}, as {@link LocalFileSystem};
 *   <li>{@code fs.AbstractFileSystem.file.impl}: {@link Fs}, as
 *       {@code org.apache.hadoop.fs.local.LocalFs}.
 * </ul>
 *
 * Checksum sidecars ({@code .crc}) are written by the stock checksum
 * layers and do not change.
 */
public final class NoForkLocalFs {
  private NoForkLocalFs() {}

  /** {@link RawLocalFileSystem} with {@code chmod} and {@code readlink} made in-process. */
  public static class RawFileSystem extends RawLocalFileSystem {
    /** The stock switch between the {@code stat}-based and the deprecated link status. */
    private static final Field DEPRECATED_STATUS = deprecatedStatusField();

    private static Field deprecatedStatusField() {
      try {
        Field f = RawLocalFileSystem.class.getDeclaredField("useDeprecatedFileStatus");
        f.setAccessible(true);
        return f;
      } catch (ReflectiveOperationException | RuntimeException e) {
        return null;
      }
    }

    private static boolean usesDeprecatedStatus() {
      try {
        return DEPRECATED_STATUS != null && DEPRECATED_STATUS.getBoolean(null);
      } catch (IllegalAccessException e) {
        return false;
      }
    }

    /**
     * Stock runs {@code chmod %04o <path>}. A four-digit octal mode sets
     * the sticky bit as given, clears a file's setuid/setgid bits and
     * keeps a directory's, which {@code setPosixFilePermissions} cannot
     * express, so the mode is written through the {@code unix} view.
     */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (NativeIO.isAvailable()) {
        super.setPermission(p, permission);
        return;
      }
      java.nio.file.Path file = pathToFile(p).toPath();
      Map<String, Object> attrs;
      try {
        attrs = Files.readAttributes(file, "unix:mode,isDirectory");
      } catch (UnsupportedOperationException | IllegalArgumentException e) {
        super.setPermission(p, permission);
        return;
      }
      int mode = permission.toShort() & 07777;
      if ((Boolean) attrs.get("isDirectory")) {
        mode |= (Integer) attrs.get("mode") & 06000;
      }
      Files.setAttribute(file, "unix:mode", mode);
    }

    /** Stock {@code getFileLinkStatus}, with the link read by {@link #readLink}. */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (!usesDeprecatedStatus()) {
        return super.getFileLinkStatus(f);
      }
      FileStatus fi = linkStatus(f);
      if (fi.isSymlink()) {
        fi.setSymlink(
            FSLinkResolver.qualifySymlinkTarget(getUri(), fi.getPath(), fi.getSymlink()));
      }
      return fi;
    }

    private FileStatus linkStatus(Path f) throws IOException {
      // stock reads the link of the path's string form, which for a
      // qualified path ("file:/...") names nothing and reads as no link
      String target = readLink(new File(f.toString()));
      try {
        FileStatus fs = getFileStatus(f);
        if (target.isEmpty()) {
          return fs;
        }
        return new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
            fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(),
            fs.getOwner(), fs.getGroup(), new Path(target), f);
      } catch (FileNotFoundException e) {
        if (!target.isEmpty()) {
          return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
              new Path(target), f);
        }
        throw e;
      }
    }

    /** What {@code FileUtil.readLink} returns: the trimmed target, or "" when {@code readlink} fails. */
    static String readLink(File f) {
      try {
        java.nio.file.Path p = f.toPath();
        return Files.isSymbolicLink(p) ? Files.readSymbolicLink(p).toString().trim() : "";
      } catch (IOException | InvalidPathException | UnsupportedOperationException
          | SecurityException e) {
        return "";
      }
    }
  }

  /** {@link LocalFileSystem} over {@link RawFileSystem}. */
  public static class FileSystem extends LocalFileSystem {
    public FileSystem() {
      super(new RawFileSystem());
    }
  }

  /** {@code RawLocalFs} over {@link RawFileSystem}; its constructors are package-private. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new RawFileSystem(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1; // no default port for file:///
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
      return true; // the local OS validates names, as in RawLocalFs
    }
  }

  /** {@code LocalFs} over {@link RawFs}; like stock, the URI argument is unused. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }
}
