import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import build  # noqa: E402
import run  # noqa: E402


class ListenerRace(unittest.TestCase):
    def test_late_events_of_an_earlier_epoch_do_not_count(self):
        cp = build.build()
        with tempfile.TemporaryDirectory(dir=build.OUT) as d:
            r = subprocess.run(["java", *run.ADD_OPENS, "-Xmx1g", f"-Djava.io.tmpdir={d}",
                                "-cp", ":".join(cp), "graft.perfbench.ListenerRaceTest", d],
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        self.assertEqual(r.stdout.strip().splitlines()[-1], "ok")


if __name__ == "__main__":
    unittest.main()
