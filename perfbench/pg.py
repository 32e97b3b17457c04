"""A throwaway PostgreSQL server whose data directory lives in the
benchmark's own work directory.

Autovacuum is off: its workers would add CPU time to whatever the
benchmark measures next, and an ANALYZE landing before or after the
first lookups would change their plans from run to run.

PostgreSQL refuses to run as root, and the ``postgres`` OS user may not
be able to reach a checkout below a private home directory. So the
server runs inside a user namespace where the calling user maps to an
unprivileged id: the server sees a non-root owner, the kernel still
checks file access as the calling user. It listens only on an
abstract-namespace unix socket (``@name``), which puts no socket file on
disk and has no path-length limit.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import subprocess
import time

BINDIR = "/usr/lib/postgresql/15/bin"
PORT = 54501  # names the socket only: the server listens on no TCP port
_NS = ["unshare", "--user", "--map-user=1000", "--map-group=1000"]


def _ready(host: str) -> bool:
    return subprocess.run(
        ["psql", "-h", host, "-p", str(PORT), "-U", "postgres",
         "-d", "postgres", "-Atc", "SELECT 1"],
        capture_output=True,
    ).returncode == 0


def init(workdir: str) -> None:
    """Create an empty data directory under ``workdir``."""
    data = os.path.join(workdir, "pgdata")
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(workdir, exist_ok=True)
    subprocess.run(
        _NS + [f"{BINDIR}/initdb", "-D", data, "--auth-local=trust",
               "--no-sync", "-U", "postgres"],
        check=True, capture_output=True,
    )


@contextlib.contextmanager
def server(workdir: str):
    """Start a server on the data directory ``init`` made under
    ``workdir``; yield PsqlCatalog's connection kwargs and the server's
    pid; stop it, wait for it and remove the data on exit."""
    data = os.path.join(workdir, "pgdata")
    host = f"@perfbench-{os.getpid()}"
    with open(os.path.join(workdir, "pg.log"), "w") as log:
        proc = subprocess.Popen(
            _NS + [f"{BINDIR}/postgres", "-D", data, "-k", host,
                   "-p", str(PORT), "-c", "listen_addresses=",
                   "-c", "autovacuum=off", "-F"],
            stdout=log, stderr=subprocess.STDOUT,
        )
    try:
        deadline = time.monotonic() + 30
        while not _ready(host):
            if proc.poll() is not None or time.monotonic() > deadline:
                raise RuntimeError(f"postgres did not start (see {workdir}/pg.log)")
            time.sleep(0.05)
        yield {"host": host, "port": PORT, "user": "postgres"}, proc.pid
    finally:
        proc.send_signal(signal.SIGINT)  # fast shutdown
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        shutil.rmtree(data, ignore_errors=True)
