"""Hadoop FileSystem helpers shared by every loader.

One storage protocol for vault + star loaders: all existence checks,
deletes, renames and small text sidecars go through the session's
Hadoop FileSystem API, so the same code works on file://, hdfs://,
s3a:// etc. — `os.path`/`shutil` would silently only work locally
(the reference's loaders use Hadoop FS throughout, e.g.
ParquetDataLoader.scala:337, HiveDataLoader.scala:334).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


class HadoopFS:
    def __init__(self, spark: SparkSession):
        self.spark = spark

    def _fs_path(self, path: str):
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, jpath

    def exists(self, path: str) -> bool:
        fs, jpath = self._fs_path(path)
        return fs.exists(jpath)

    def delete(self, path: str) -> None:
        fs, jpath = self._fs_path(path)
        fs.delete(jpath, True)

    def rename(self, src: str, dst: str) -> None:
        fs, jsrc = self._fs_path(src)
        _, jdst = self._fs_path(dst)
        fs.rename(jsrc, jdst)

    def replace(self, src: str, dst: str) -> None:
        """Move `src` onto `dst`, dropping whatever `dst` held: the
        swap step of write-new-then-swap. A crash while `src` is being
        written leaves `dst` untouched."""
        self.delete(dst)
        self.rename(src, dst)

    def write_text(self, path: str, text: str) -> None:
        """Create/overwrite a small text file (meta.json / proc.csv
        sidecars)."""
        fs, jpath = self._fs_path(path)
        out = fs.create(jpath, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def list_names(self, path: str) -> list[str]:
        """Child entry names directly under `path` (empty when the
        path is absent) — partition-directory discovery for the
        maintenance utilities."""
        fs, jpath = self._fs_path(path)
        if not fs.exists(jpath):
            return []
        return [st.getPath().getName() for st in fs.listStatus(jpath)]

    def file_count(self, path: str) -> int:
        fs, jpath = self._fs_path(path)
        if not fs.exists(jpath):
            return 0
        return fs.getContentSummary(jpath).getFileCount()

    def size_bytes(self, path: str) -> int:
        fs, jpath = self._fs_path(path)
        if not fs.exists(jpath):
            return 0
        return fs.getContentSummary(jpath).getLength()

    def fingerprint(self, path: str) -> str | None:
        """Cheap snapshot identity for a data file or directory:
        ``"<dir-mtime>:<total-bytes>:<file-count>:<max-file-mtime>"``
        (None when absent). The directory's own mtime catches local /
        HDFS rewrites (rename-into-place keeps the staging write's
        stamp), but on object stores (s3a://) directories are
        synthetic and their mtime is typically 0 (ADVICE r13) — so
        the identity also folds in the recursive file count and the
        MAX file modification time: an external rewrite changes file
        mtimes even when it reproduces the exact byte count. Used as
        the parquet schema cache's snapshot key (`io.tables`): any
        rewrite of the path, including an external one, must change
        the key so the next read infers afresh.

        Cost: a few Py4J round trips per directory and per file. The
        walk uses plain ``listStatus`` statuses: ``listFiles``' located
        statuses load owner and permission, which the local filesystem
        does by forking a process per file."""
        fs, jpath = self._fs_path(path)
        if not fs.exists(jpath):
            return None
        st = fs.getFileStatus(jpath)
        top_mtime = st.getModificationTime()
        if not st.isDirectory():
            return f"{top_mtime}:{st.getLen()}:1:{top_mtime}"
        n_files, total, max_mtime = 0, 0, 0
        dirs = [jpath]
        while dirs:
            for child in fs.listStatus(dirs.pop()):
                if child.isDirectory():
                    dirs.append(child.getPath())
                else:
                    n_files += 1
                    total += child.getLen()
                    max_mtime = max(max_mtime, child.getModificationTime())
        return f"{top_mtime}:{total}:{n_files}:{max_mtime}"

    def read_text(self, path: str) -> str | None:
        # NB: reading into a Python bytearray buffer does NOT work —
        # py4j passes byte[] by value, so Java's writes into the buffer
        # never reach Python (the r1 code silently returned NULs).
        # Decode fully on the JVM side instead.
        fs, jpath = self._fs_path(path)
        if not fs.exists(jpath):
            return None
        stream = fs.open(jpath)
        try:
            return self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
