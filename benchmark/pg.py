"""A private Postgres 15 cluster for one benchmark run.

The engine's own ``sources.pgserver`` boots one shared cluster under
``/tmp`` on a fixed port and reuses whatever already answers there,
which would let a benchmark run share state with a test run. A run
instead gets its own data directory inside the run directory and its
own free port, and the run removes both when it ends.

Postgres refuses to run as root. The server runs in an unprivileged
user namespace (``unshare -U``): inside it the process is not uid 0,
while file access outside still resolves to the invoking user, so the
data directory can live in the checkout whatever the permissions of
its parent directories.
"""

from __future__ import annotations

import os
import shutil
import signal
import socket
import subprocess

USER = "graft"
_BIN_DIRS = ("/usr/local/bin", "/usr/lib/postgresql/15/bin")


def _binary(name: str) -> str:
    found = shutil.which(name) or next(
        (os.path.join(d, name) for d in _BIN_DIRS if os.path.exists(os.path.join(d, name))),
        None,
    )
    if found is None:
        raise RuntimeError(f"no {name} binary: the io workload needs a Postgres 15 server")
    return found


def _as_server_user(argv: list[str]) -> list[str]:
    return (["unshare", "-U"] if os.geteuid() == 0 else []) + argv


def free_port() -> int:
    """A TCP port on 127.0.0.1 that nothing listens on right now."""
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def port_taken(port: int) -> bool:
    try:
        with socket.create_connection(("127.0.0.1", port), timeout=1):
            return True
    except OSError:
        return False


def start(data_dir: str, port: int) -> None:
    """initdb a fresh cluster in ``data_dir`` and start it on ``port``.
    Raises if the port is already served, so a run never talks to a
    server it did not start."""
    if port_taken(port):
        raise RuntimeError(f"port {port} already has a server; refusing to share it")
    r = subprocess.run(
        _as_server_user(
            [_binary("initdb"), "-D", data_dir, "-U", USER, "--auth=trust", "-E", "UTF8",
             "--no-sync"]
        ),
        capture_output=True,
        text=True,
    )
    if r.returncode != 0:
        raise RuntimeError(f"initdb failed: {r.stderr[-500:]}")
    opts = f"-p {port} -k '' -c listen_addresses=127.0.0.1 -c fsync=off"
    r = subprocess.run(
        _as_server_user(
            [_binary("pg_ctl"), "-D", data_dir, "-l", os.path.join(data_dir, "log"),
             "-o", opts, "-w", "-t", "60", "start"]
        ),
        capture_output=True,
        text=True,
    )
    if r.returncode != 0 or not port_taken(port):
        raise RuntimeError(f"postgres failed to start: {r.stdout[-300:]} {r.stderr[-300:]}")


def postmaster_pid(data_dir: str) -> int | None:
    try:
        with open(os.path.join(data_dir, "postmaster.pid")) as fh:
            return int(fh.readline())
    except (OSError, ValueError):
        return None


def stop(data_dir: str) -> None:
    """Stop the cluster in ``data_dir`` if one runs there, and wait
    until the postmaster has exited."""
    pid = postmaster_pid(data_dir)
    if pid is None:
        return
    subprocess.run(
        _as_server_user([_binary("pg_ctl"), "-D", data_dir, "-m", "immediate", "-w", "stop"]),
        capture_output=True,
        timeout=60,
    )
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return
    os.kill(pid, signal.SIGKILL)
