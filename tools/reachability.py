#!/usr/bin/env python3
"""Method-level reachability over graft's compiled main classes.

Run after `sbt compile`:

    python3 tools/reachability.py [classes_dir] > REACHABILITY.md

It disassembles every class under target/scala-2.13/classes with
`javap -c -p -v` and follows calls transitively from the roots: the
`SparkEntry` contract, the `main` of every entry point, and every graft
name the benchmark driver under perfbench/src uses. It prints a markdown
report (roots, method, the kept-unreached defs with their reasons) and
then every unreached `def` of src/main that is not in KEEP. The exit
status is 1 when that last list is not empty, or when a KEEP entry
matches no unreached def.

Edges, as the JVM can take them:
  * invoke* instructions, with and without an owner in javap's comment
    (same-class calls have none);
  * lambdas: an invokedynamic reaches the method handles of its
    LambdaMetafactory bootstrap (LambdaDeserialize lists every lambda of
    a class and is skipped: it runs only for a lambda that was already
    created and serialized);
  * reaching a class, by a call, a static field or `new`, runs its
    static initializer;
  * `new C` of a class that is not a Scala module makes every method of
    C and its graft ancestors reachable, since dynamic dispatch, Spark
    and Java serialization can call any of them; so does reaching a
    module that extends a class or trait.
A def (or val accessor) counts as reached when any of its overloads is.
"""
import os
import re
import subprocess
import sys
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_MAIN = os.path.join(REPO, "src", "main", "scala")
PERFBENCH_SRC = os.path.join(REPO, "perfbench", "src")

ENTRY_MAINS = ["Verify", "Bench", "Tool", "Sweep", "BootstrapData", "FixtureStats",
               "GenFixture", "GenJpegFixture", "GenBpeMerges", "GenSemanticCentroids"]
SPARK_ENTRY = ("graft/SparkEntry$", ["entry", "queries", "oracleSql"])

# Defs no root reaches that stay, each with its reason. Keys are
# "<package>.<Object or class>.<def>"; a key ending in ".*" keeps a whole
# object or class.
KEEP = {
    # reference implementations a spec compares a live path against
    "graft.ops.AsOfJoin.*":
        "reference twin: AsOfJoinSpec compares plans.AsOfJoinPlan (the live "
        "catalog operator) against it row for row",
    "graft.ops.MergeOps.applyChanges":
        "reference: MergeOpsSpec checks the live changeFeed (q_change_feed) by "
        "the round-trip law applyChanges(old, changeFeed(old, new)) == new",
    "graft.graph.Bfs.distancesFp":
        "reference twin: the full-frame BFS that the q_bfs_dist oracle CTEs "
        "unroll; BfsSpec compares the live frontier loop of Bfs.distances "
        "against it bit for bit",
    "graft.layout.HilbertKernels.d2xy":
        "reference: the inverse curve HilbertSpec uses to prove the live xy2d "
        "kernel is a bijection with unit-step continuity",
    **{f"graft.layout.ZOrder.{n}":
        "reference twin: the JVM kernel ZOrderSpec compares the live zkey/zkey3 "
        "column expressions against row for row"
       for n in ["spreadBitsLong", "unspreadBitsLong", "interleaveLong",
                 "spreadBits3Long", "unspreadBits3Long", "interleave3Long"]},
    # seams a spec uses to see inside a live path or to inject a fault
    "graft.graph.Bfs.distancesDeltaStats":
        "observation seam: the live frontier loop plus its per-round sizes, "
        "the work measure BfsSpec pins (early exit, O(reachable) probes)",
    "graft.sim.DtwSearch.admittedCounts":
        "observation seam: rows the live LB gate of DtwSearch.topK admits per "
        "query; DtwSearchSpec pins that it prunes on shaped data",
    "graft.quality.QualityQueries.selectPipelineKeptCount":
        "observation seam: stage 1 of q_select_pipeline alone; "
        "SelectPipelineSpec's guard against a pass-through filter",
    # CatalogPlanLintSpec hooks: the scale-safety gate's view of catalog plans
    "graft.dedup.DedupQueries.lintVariants":
        "CatalogPlanLintSpec hook: exposes catalog plan variants to the "
        "scale-safety gate",
    "graft.quality.QualityQueries.lintVariants":
        "CatalogPlanLintSpec hook: exposes catalog plan variants to the "
        "scale-safety gate",
    "graft.text.TextQueries.lintVariants":
        "CatalogPlanLintSpec hook: exposes catalog plan variants to the "
        "scale-safety gate",
    "graft.quality.QualityQueries.lintFetchCaps":
        "CatalogPlanLintSpec hook: the fetch caps the scale-safety gate "
        "checks catalog plans against",
    # operator and deployment surface
    "graft.GraftSession.clusterConf":
        "deployment settings for a cluster run; no local entry point uses "
        "them, SourcesSpec pins their values",
    "graft.dedup.ClusterIndex.repair":
        "operator action: heals a crashed epoch of a plain (non-best) index, "
        "the move the live ClusterIndex.maintain's needs_repair report asks for",
    "graft.multimodal.Multimodal.mediaSchema":
        "the documented input schema of the live media operators; "
        "MultimodalSpec builds its fixture frames from it",
}


def javap(paths):
    out = []
    for i in range(0, len(paths), 150):
        res = subprocess.run(["javap", "-c", "-p", "-v"] + paths[i:i + 150],
                             capture_output=True, text=True, check=True)
        out.append(res.stdout)
    return "\n".join(out)


CLASS_RE = re.compile(r"^Classfile (.*)$")
SUPER_RE = re.compile(r"^\s+super_class: #\d+\s+// (\S+)")
DECL_RE = re.compile(r"^[a-z ]*(class|interface) (\S+)(.*)\{?$")
INVOKE_RE = re.compile(
    r"\s(invoke(?:virtual|static|special|interface))\s+#\d+(?:,\s+\d+)?\s+"
    r"// (?:Interface)?Method (?:(\S+)\.)?(\"?[^\s:\"]+\"?):(\S+)")
INDY_RE = re.compile(r"\sinvokedynamic\s+#\d+,\s+\d+\s+// InvokeDynamic #(\d+):")
FIELD_RE = re.compile(r"\s(?:get|put)static\s+#\d+\s+// Field (?:(\S+)\.)?[^\s.:]+:")
NEW_RE = re.compile(r"\snew\s+#\d+\s+// class (\S+)")
BSM_RE = re.compile(r"^\s+(\d+): #\d+ REF_invokeStatic (\S+)")
HANDLE_RE = re.compile(r"^\s+#\d+ REF_(?:invoke\w+|newInvokeSpecial) (\S+)\.(\"?[^\s:\"]+\"?):(\S+)")


class Klass:
    def __init__(self, name):
        self.name = name
        self.source = None
        self.super = None
        self.interfaces = []
        self.methods = {}    # (name, desc) -> list of edges
        self.bootstraps = {}  # index -> list of (owner, name, desc)


def parse(text):
    classes = {}
    k = None
    cur = None        # edge list of the method being read
    pending = None    # header of the member whose descriptor comes next
    in_bsm = None
    for line in text.splitlines():
        m = CLASS_RE.match(line)
        if m:
            k, cur, pending, in_bsm = None, None, None, None
            continue
        if k is None:
            d = DECL_RE.match(line)
            if d and not line.startswith(" "):
                k = Klass(d.group(2).split("<")[0].replace(".", "/"))
                classes[k.name] = k
                rest = d.group(3)
                if " implements " in rest:
                    impl = re.sub(r"<[^<>]*(<[^<>]*>[^<>]*)*>", "", rest.split(" implements ", 1)[1])
                    k.interfaces = [i.strip().replace(".", "/") for i in impl.strip(" {").split(",") if i.strip()]
            continue
        s = SUPER_RE.match(line)
        if s:
            k.super = s.group(1)
            continue
        if line.startswith("SourceFile:"):
            k.source = line.split('"')[1]
            cur = None
            continue
        if line.startswith("BootstrapMethods:"):
            in_bsm = -1
            cur = None
            continue
        if in_bsm is not None:
            b = BSM_RE.match(line)
            if b:
                in_bsm = int(b.group(1)) if "LambdaMetafactory" in b.group(2) else -1
                continue
            h = HANDLE_RE.match(line)
            if h and in_bsm >= 0:
                k.bootstraps.setdefault(in_bsm, []).append(
                    (h.group(1), h.group(2).strip('"'), h.group(3)))
            continue
        if line.startswith("  ") and not line.startswith("   ") and line.rstrip().endswith(";"):
            pending = line.strip()
            continue
        if pending is not None and line.strip().startswith("descriptor:"):
            desc = line.split("descriptor:")[1].strip()
            head = pending
            pending = None
            clinit = head.endswith("static {};")
            if "(" not in head and not clinit:
                cur = None   # a field
                continue
            if clinit:
                name = "<clinit>"
            else:
                name = head.split("(")[0].split()[-1]
                if name.replace(".", "/") == k.name:
                    name = "<init>"
            cur = []
            k.methods[(name, desc)] = cur
            continue
        if cur is None:
            continue
        m = INVOKE_RE.search(line)
        if m:
            cur.append(("call", m.group(2) or k.name, m.group(3).strip('"'), m.group(4)))
            continue
        m = INDY_RE.search(line)
        if m:
            cur.append(("indy", k.name, int(m.group(1))))
            continue
        m = FIELD_RE.search(line)
        if m:
            cur.append(("class", m.group(1) or k.name))
            continue
        m = NEW_RE.search(line)
        if m:
            cur.append(("new", m.group(1)))
    return classes


def is_module(name):
    return name.endswith("$")


PLAIN = {"java/lang/Object", "java/io/Serializable", "scala/Serializable",
         "scala/Product", "scala/Equals"}


def dispatchable(k):
    """A module that extends a class or trait can be called through it."""
    return k.super not in PLAIN or any(i not in PLAIN for i in k.interfaces)


def perfbench_roots(classes):
    """(class, method name) pairs for every graft name perfbench/src uses:
    any identifier there that names a method of a graft type it imports."""
    text = ""
    for root, _, files in os.walk(PERFBENCH_SRC):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(root, f)) as fh:
                    text += fh.read() + "\n"
    imported = set()
    for m in re.finditer(r"^import (graft(?:\.\w+)*)\.(\{[^}]*\}|\w+)", text, re.M):
        pkg, names = m.group(1), m.group(2).strip("{}")
        for n in names.split(","):
            n = n.strip().split("=>")[0].strip()
            imported.add((pkg + "." + n).replace(".", "/"))
    idents = set(re.findall(r"[A-Za-z_]\w*", text))
    roots = []
    for cname, k in classes.items():
        if cname.rstrip("$") not in imported:
            continue
        for (mname, desc) in k.methods:
            if mname in idents or (mname == "apply" and cname.rstrip("$").split("/")[-1] in idents):
                roots.append((cname, mname, desc))
    return sorted(imported), roots


def reach(classes, roots):
    reached = set()
    class_seen = set()
    inst_seen = set()
    work = list(roots)

    def resolve(owner, name, desc):
        seen = set()
        stack = [owner]
        while stack:
            c = stack.pop()
            if c in seen or c not in classes:
                continue
            seen.add(c)
            if (name, desc) in classes[c].methods:
                return c
            stack.append(classes[c].super)
            stack.extend(classes[c].interfaces)
        return None

    def touch_class(c):
        if c in classes and c not in class_seen:
            class_seen.add(c)
            for key in classes[c].methods:
                if key[0] == "<clinit>":
                    work.append((c,) + key)
            if is_module(c) and dispatchable(classes[c]):
                instantiate(c)

    def instantiate(c):
        stack = [c]
        while stack:
            x = stack.pop()
            if x not in classes or x in inst_seen:
                continue
            inst_seen.add(x)
            touch_class(x)
            for key in classes[x].methods:
                if key[0] != "$deserializeLambda$":
                    work.append((x,) + key)
            stack.append(classes[x].super)
            stack.extend(classes[x].interfaces)

    while work:
        node = work.pop()
        c, name, desc = node
        if c not in classes:
            continue
        if (name, desc) not in classes[c].methods:
            r = resolve(c, name, desc)
            if r is None:
                continue
            c = r
            node = (c, name, desc)
        if node in reached:
            continue
        reached.add(node)
        touch_class(c)
        if name == "<init>" and not is_module(c):
            instantiate(c)
        for e in classes[c].methods[(name, desc)]:
            if e[0] == "call":
                _, owner, n, d = e
                work.append((owner, n, d))
                touch_class(owner)
            elif e[0] == "indy":
                for h in classes[c].bootstraps.get(e[2], []):
                    work.append(h)
            elif e[0] == "class":
                touch_class(e[1])
            elif e[0] == "new":
                if not is_module(e[1]):
                    instantiate(e[1])
                touch_class(e[1])
    return reached, class_seen


def source_index():
    """file name -> list of paths under src/main (names can repeat)."""
    idx = defaultdict(list)
    for root, _, files in os.walk(SRC_MAIN):
        for f in files:
            if f.endswith(".scala"):
                idx[f].append(os.path.join(root, f))
    return idx


def display(cname):
    return cname.replace("/", ".").rstrip("$").replace("$", ".")


def main():
    classes_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "target", "scala-2.13", "classes")
    paths = sorted(os.path.join(r, f) for r, _, fs in os.walk(classes_dir)
                   for f in fs if f.endswith(".class"))
    if not paths:
        sys.exit(f"no classes under {classes_dir}: run `sbt compile` first")
    classes = parse(javap(paths))

    roots = []
    owner, names = SPARK_ENTRY
    for key in classes[owner].methods:
        if key[0] in names:
            roots.append((owner,) + key)
    for main_obj in ENTRY_MAINS:
        cname = next(c for c in classes if c.endswith("/" + main_obj + "$"))
        for key in classes[cname].methods:
            if key[0] == "main":
                roots.append((cname,) + key)
    imported, pb_roots = perfbench_roots(classes)
    reached, class_seen = reach(classes, roots + pb_roots)

    srcs = source_index()
    texts = {}

    def declares(k, mname):
        if k.source is None:
            return False
        for p in srcs.get(k.source, []):
            if p not in texts:
                with open(p) as fh:
                    texts[p] = fh.read()
            if re.search(r"\b(?:def|val)\s+" + re.escape(mname) + r"\b", texts[p]):
                return True
        return False

    # A mirror class's static forwarder and its module's method are one def.
    reached_names = {(display(c), n) for (c, n, _) in reached}
    unreached = set()
    for cname, k in classes.items():
        if cname.endswith("$class") or "$anon" in cname:
            continue
        for (mname, _desc) in k.methods:
            if "$" in mname or mname.startswith("<"):
                continue
            if (display(cname), mname) in reached_names:
                continue
            if declares(k, mname):
                unreached.add(display(cname) + "." + mname)

    def kept(d):
        return any(d == key or (key.endswith(".*") and d.startswith(key[:-1])) for key in KEEP)

    kept_list = sorted(d for d in unreached if kept(d))
    bad = sorted(d for d in unreached if not kept(d))
    # a KEEP entry that matches no unreached def is stale: its def gained
    # a caller or is gone
    stale = sorted(key for key in KEEP if not any(
        d == key or (key.endswith(".*") and d.startswith(key[:-1]))
        for d in kept_list))

    p = print
    p("# REACHABILITY — main code reached from graft's entry points")
    p()
    p("Generated by `python3 tools/reachability.py > REACHABILITY.md` after")
    p("`sbt compile`; the tool exits non-zero when a `def` of `src/main` is")
    p("unreached and not kept below.")
    p()
    p("## Roots")
    p()
    p("- `graft.SparkEntry`: " + ", ".join(f"`{n}`" for n in names))
    p("- `main` of: " + ", ".join(f"`graft.{n}`" for n in ENTRY_MAINS))
    p("- every method of a graft type that `perfbench/src` imports whose name")
    p("  appears there as an identifier (" + str(len(pb_roots)) + " methods over "
      + str(len(imported)) + " imported types: "
      + ", ".join(f"`{i.split('/')[-1]}`" for i in imported) + ")")
    p()
    p("## Method")
    p()
    p("`javap -c -p -v` of every class under `target/scala-2.13/classes`, then a")
    p("transitive walk at method level:")
    p()
    p("- every `invoke*` instruction, including same-class calls (no owner in")
    p("  javap's comment) and static forwarders in mirror classes;")
    p("- lambdas through the `LambdaMetafactory` entries of `BootstrapMethods`;")
    p("- a reached class runs its static initializer;")
    p("- `new` of a non-module class reaches every method of that class and its")
    p("  graft ancestors, since dispatch, Spark or serialization can call them;")
    p("  so does reaching a Scala `object` that extends a class or trait.")
    p()
    p("A def counts as reached when any overload is. Only names that appear as")
    p("`def <name>` or `val <name>` in the class's source file are reported, so")
    p("compiler-made members (case-class `copy`, `apply`, accessors) are not. An")
    p("unreached `val` accessor means the value is computed but never read.")
    p()
    p(f"Classes: {len(classes)}; methods reached: {len(reached)}; classes reached: {len(class_seen)}.")
    p()
    p("## Kept although unreached")
    p()
    p("| Def | Reason |")
    p("|---|---|")
    for d in kept_list:
        reason = next(v for key, v in KEEP.items()
                      if d == key or (key.endswith(".*") and d.startswith(key[:-1])))
        p(f"| `{d}` | {reason} |")
    p()
    p("## Unreached and not kept")
    p()
    if bad:
        for d in bad:
            p(f"- `{d}`")
    else:
        p("None.")
    if stale:
        p()
        p("## Stale keep entries")
        p()
        for key in stale:
            p(f"- `{key}`")
    sys.exit(1 if bad or stale else 0)


if __name__ == "__main__":
    main()
