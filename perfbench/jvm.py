"""Building the harness and talking to its JVM.

The harness is an sbt build of its own (`perfbench/build.sbt`) that
compiles the program from the repository's build one directory up. Its
`writeLaunch` task leaves the runtime classpath and the program's JVM
options in `perfbench/target/launch.txt`; runs after the first start the
JVM from that file without sbt.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAUNCH = os.path.join(HERE, "target", "launch.txt")
BUILD_INPUTS = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]


def _newest_input():
    newest = 0.0
    for p in BUILD_INPUTS:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def ensure_built():
    """Build with sbt unless launch.txt is newer than every source."""
    if os.path.exists(LAUNCH) and os.path.getmtime(LAUNCH) >= _newest_input():
        return
    print("[perfbench] building the program and the harness with sbt",
          file=sys.stderr, flush=True)
    # Dependencies resolve from the local cache only; nothing is fetched.
    env = {**os.environ, "COURSIER_MODE": os.environ.get("COURSIER_MODE", "offline")}
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                   cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                   stdin=subprocess.DEVNULL, check=True, timeout=840)


class Harness:
    """The harness JVM, driven one JSON command per line."""

    HEAP = "3g"

    def __init__(self, work, cores):
        with open(LAUNCH) as f:
            lines = f.read().splitlines()
        classpath, opts = lines[0], [o for o in lines[1:] if not o.startswith(("-Xmx", "-Xms"))]
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = (["java", f"-Xms{self.HEAP}", f"-Xmx{self.HEAP}", f"-Djava.io.tmpdir={tmp}",
                f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] + opts +
               ["-cp", classpath, "perfbench.Harness", work, str(cores)])
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=sys.stderr, cwd=work, text=True, bufsize=1)
        self._read()  # the ready line

    def _read(self):
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError("harness JVM exited")
            if line.startswith("@@"):
                return json.loads(line[2:])

    def cmd(self, cmd, **kw):
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        reply = self._read()
        if "error" in reply:
            raise RuntimeError(f"harness {cmd}: {reply['error']}")
        return reply

    def rss_peak_mb(self):
        """The JVM's peak resident set (VmHWM), in MB."""
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def stop(self):
        """Ask the JVM to quit; kill it if it does not, and wait for it."""
        if self.proc.poll() is None:
            try:
                self.cmd("quit")
                self.proc.wait(timeout=30)
            except Exception:
                pass
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
