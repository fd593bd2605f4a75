"""Guard on the program's `graft.*` knobs.

    python3 -m unittest discover -s tools/tests -v

Lists every `graft.*` setting that `src/main` reads, as a JVM system
property (`System.getProperty`, `Integer.getInteger`, `Long.getLong`,
`Boolean.getBoolean`, `sys.props`) or as a Spark session conf
(`conf.get`/`conf.getOption`), and fails on any that the allow-list
below does not name with a reason.  It also fails on allow-list entries
that nothing reads any more, and on property reads whose name is not a
string literal (the guard could not see them).  A new knob therefore
needs a line here saying why it exists.
"""
import os
import re
import unittest

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
MAIN = os.path.join(ROOT, "src", "main")

ALLOWED = {
    "graft.wire.truststore":
        "deployment setting: the PKCS12 trust bundle HTTPS and h2s:// "
        "endpoints are verified against (platform roots when unset)",
    "graft.wire.truststorePass":
        "deployment setting: the password of graft.wire.truststore",
    "graft.dedup.checkpointDir":
        "deployment setting: reliable checkpoint dir for the dedup and "
        "connected-components rounds on a cluster that can lose executors",
    "graft.telemetry.disable":
        "perfbench's trace switch: untraced runs turn span recording off",
    "graft.adaptive.minInputBytes":
        "open: the input size above which the at-scale branch session is "
        "used (ROADMAP direction 5, size-keyed branch sessions)",
    "graft.broadcastDimMaxBytes":
        "open: the size cap of a broadcast dimension table (ROADMAP "
        "direction 5, size-keyed branch sessions)",
}

_READ = (r"(?:System\.getProperty|Integer\.getInteger|Long\.getLong"
         r"|Boolean\.getBoolean|sys\.props(?:\.get|\.getOrElse|\.contains)?"
         r"|conf\.getOption|conf\.get)\(\s*")
LITERAL_READ = re.compile(_READ + r'"(graft\.[^"]+)"')
# a property read whose first argument is not a string literal
DYNAMIC_READ = re.compile(
    r"(?:System\.getProperty|Integer\.getInteger|Long\.getLong"
    r"|Boolean\.getBoolean)\(\s*(?!\")")


def knobs_read(text):
    """The `graft.*` names a source text reads."""
    return set(LITERAL_READ.findall(text))


def dynamic_reads(text):
    """How many property reads in a source text take a computed name."""
    return len(DYNAMIC_READ.findall(text))


def scan(root=MAIN):
    """({knob: [files]}, [files with a computed property name])."""
    found, dynamic = {}, []
    for dirpath, _, files in os.walk(root):
        for name in files:
            if not name.endswith(".scala"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as f:
                text = f.read()
            rel = os.path.relpath(path, ROOT)
            for knob in knobs_read(text):
                found.setdefault(knob, []).append(rel)
            if dynamic_reads(text):
                dynamic.append(rel)
    return found, dynamic


class ScannerTest(unittest.TestCase):
    def test_every_read_form_is_seen(self):
        text = '''
          Integer.getInteger("graft.wire.pool.maxIdle", 8)
          java.lang.Long.getLong(
            "graft.wire.pool.idleTtlMs", 60000L)
          System.getProperty("graft.a", "")
          java.lang.Boolean.getBoolean("graft.b")
          sys.props.get("graft.c")
          sys.props("graft.d")
          spark.conf.getOption("graft.e")
          df.sparkSession.conf.get("graft.f", "x")
          System.getProperty("user.home")
        '''
        self.assertEqual(knobs_read(text), {
            "graft.wire.pool.maxIdle", "graft.wire.pool.idleTtlMs",
            "graft.a", "graft.b", "graft.c", "graft.d", "graft.e", "graft.f"})

    def test_a_computed_name_is_flagged(self):
        self.assertEqual(dynamic_reads('System.getProperty(KeyName, "")'), 1)
        self.assertEqual(dynamic_reads('System.getProperty("java.home")'), 0)


class KnobsTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.found, cls.dynamic = scan()

    def test_every_knob_read_is_allowed(self):
        extra = {k: v for k, v in self.found.items() if k not in ALLOWED}
        self.assertEqual(extra, {}, "graft.* settings read by src/main but "
                         "not in ALLOWED (add one with its reason, or drop "
                         "the knob)")

    def test_no_allowed_knob_is_stale(self):
        stale = sorted(set(ALLOWED) - set(self.found))
        self.assertEqual(stale, [], "ALLOWED names knobs nothing reads")

    def test_every_entry_gives_a_reason(self):
        for knob, why in ALLOWED.items():
            self.assertTrue(why.strip(), knob)

    def test_property_names_are_literals(self):
        self.assertEqual(self.dynamic, [])


if __name__ == "__main__":
    unittest.main()
