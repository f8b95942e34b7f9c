"""Seeded query corpus: scripts/gen_sf.py's tables and distributions, run
with a chosen seed and with per-table row floors.

gen_sf.py is used as it is in the repository. Its module source is parsed
and two things are changed in the parsed tree before it runs: the seed of
its one random generator, and the row-count constants named in `floors`,
which become max(floor, original expression). Every distribution stays
the generator's own.
"""
import ast
import contextlib
import io
import sys


class _Seeded(ast.NodeTransformer):
    def __init__(self, seed, floors):
        self.seed = seed
        self.floors = dict(floors)
        self.seeded = False

    def visit_Assign(self, node):
        if len(node.targets) != 1 or not isinstance(node.targets[0], ast.Name):
            return node
        name = node.targets[0].id
        if name == "rng":
            node.value = ast.parse(
                f"np.random.default_rng({int(self.seed)})", mode="eval").body
            self.seeded = True
        elif name in self.floors:
            node.value = ast.Call(func=ast.Name("max", ast.Load()),
                                  args=[ast.Constant(self.floors.pop(name)), node.value],
                                  keywords=[])
        return node


def generate(gen_sf_path, out_dir, scale, seed, floors):
    """Write the lake tables under out_dir (one `<table>.parquet` file
    each). Fails if the generator no longer has the constants or the
    seeded generator this relies on."""
    with open(gen_sf_path) as f:
        tree = ast.parse(f.read(), filename=gen_sf_path)
    t = _Seeded(seed, floors)
    tree = ast.fix_missing_locations(t.visit(tree))
    if not t.seeded or t.floors:
        raise RuntimeError(f"{gen_sf_path}: no seeded `rng` or no constant(s) "
                           f"{sorted(t.floors)}")
    argv = sys.argv
    sys.argv = [gen_sf_path, out_dir, repr(float(scale))]
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            exec(compile(tree, gen_sf_path, "exec"), {"__name__": "__main__"})
    finally:
        sys.argv = argv
