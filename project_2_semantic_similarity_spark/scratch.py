"""Session-scoped scratch-directory root (r7 VERDICT #7).

Plans that stage data on local disk (streaming source directories,
bucketed-table copies, checkpoint dirs) previously
wrote world-readable ``/tmp/p2ss_*`` paths — fine on a single box,
racy and leaky on shared hosts where another uid could pre-create or
read the path. Every staging site now goes through :func:`scratch_path`,
which roots under a per-user mode-0700 directory:

- ``$P2SS_SCRATCH_DIR`` if set (a cluster deployment points this at
  the executor's local-disk volume, e.g. the YARN/k8s work dir);
- else ``<system tmp>/p2ss-<uid>`` created 0700.

Cache keys (corpus fingerprints) stay in the file NAMES, so warm-run
reuse across processes of the same user is preserved — only the root
moved out of the shared namespace.
"""

from __future__ import annotations

import os
import stat as _stat
import tempfile


def scratch_root() -> str:
    """The per-user scratch root, created on first use with mode
    0700 (and re-tightened if it already exists looser).

    After creation the directory is stat'ed and REJECTED unless it is
    owned by the current uid — mirroring tempfile's per-user-dir
    check. makedirs(exist_ok=True) happily adopts a pre-created
    attacker-owned path, and the chmod that would tighten it fails
    with EPERM on a foreign-owned dir; an ownership stat is the only
    reliable signal, so a failure here is an error, never a silent
    pass. Residual group/other permission bits are likewise an error
    for the default tmp-derived root; for a user-specified
    ``$P2SS_SCRATCH_DIR`` they only warn — intentionally shared or
    chmod-ignoring mounts (ACL-based NFS, some fuse mounts) are the
    user's explicit choice."""
    base = os.environ.get("P2SS_SCRATCH_DIR")
    user_chosen = bool(base)
    if not base:
        uid = os.getuid() if hasattr(os, "getuid") else "u"
        base = os.path.join(tempfile.gettempdir(), f"p2ss-{uid}")
    os.makedirs(base, mode=0o700, exist_ok=True)
    try:
        os.chmod(base, 0o700)
    except OSError:
        pass
    if hasattr(os, "getuid"):
        st = os.lstat(base)
        if not _stat.S_ISDIR(st.st_mode):
            raise RuntimeError(
                f"scratch root {base!r} is not a directory")
        if st.st_uid != os.getuid():
            raise RuntimeError(
                f"scratch root {base!r} is owned by uid {st.st_uid}, "
                f"not the current uid {os.getuid()} — refusing to "
                "stage data in a foreign-owned directory")
        if st.st_mode & 0o077:
            if user_chosen:
                # The user explicitly chose this path; some mounts
                # (ACL-based NFS, chmod-ignoring fuse) legitimately
                # retain group/other bits — warn, don't refuse.
                import logging
                import warnings

                msg = (
                    f"P2SS_SCRATCH_DIR {base!r} has group/other "
                    f"permission bits 0o{st.st_mode & 0o777:o} that "
                    "chmod could not clear — staged data may be "
                    "readable by other users on this host")
                warnings.warn(msg, RuntimeWarning, stacklevel=2)
                # warnings are easy to miss on Spark executors; the
                # logger line lands in executor/driver logs too
                # (r10 advice).
                logging.getLogger(
                    "project_2_semantic_similarity_spark.scratch"
                ).warning(msg)
            else:
                raise RuntimeError(
                    f"scratch root {base!r} has group/other permission "
                    f"bits 0o{st.st_mode & 0o777:o} that chmod could "
                    "not clear — refusing to stage data in a "
                    "shared-readable directory")
    return base


def scratch_path(*parts: str) -> str:
    """Join ``parts`` under :func:`scratch_root` (parent dirs are NOT
    created — callers that need a directory makedirs it themselves,
    as before)."""
    return os.path.join(scratch_root(), *parts)
