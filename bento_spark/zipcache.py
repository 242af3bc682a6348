"""Re-read a zip archive's directory only when the archive changed. CPython 3.11/3.12 re-read every zip directory
in importlib.invalidate_caches() (3.13 made it lazy); pyspark calls that per worker task: 139 ms CPU on pyspark.zip."""
import os
import zipimport

_last = {}  # archive -> ((st_ino, st_mtime_ns, st_size) taken before its last read, that read)


def _stat(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def _read_directory(archive, _read=zipimport._read_directory):
    _last[archive] = _stat(archive), _read(archive)
    return _last[archive][1]


def invalidate_caches(self, _invalidate=zipimport.zipimporter.invalidate_caches):
    key, files = _last.get(self.archive, (None, None))
    if key is None or key != _stat(self.archive):
        return _invalidate(self)
    self._files = zipimport._zip_directory_cache[self.archive] = files


zipimport._read_directory, zipimport.zipimporter.invalidate_caches = _read_directory, invalidate_caches
