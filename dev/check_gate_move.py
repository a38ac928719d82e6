#!/usr/bin/env python3
"""Check that folding the round-numbered query modules into family
modules moved every gate body verbatim.

usage: python3 dev/check_gate_move.py <rev>

<rev> is a commit that still has the `Round*Queries` modules. For each
of its gates (a `QueryDef(...)` member), the member text there and the
member text in today's `queries/*Gates.scala` must be equal after these
edits, applied outside string literals:

  1. `t(s, dir, ` -> `Tables.load(s, dir, `;
  2. the helper renames listed in RENAMES below;
  3. a module qualifier (`Round89Queries.`, `NsGates.`, ...) on a
     cross-module reference is dropped on both sides;
  4. q532 reads q109's oracle from the `q109` val instead of searching
     `Round4Queries.all` (both now live in one module, whose `all` is
     not yet built while its vals initialize);
  5. q529's comment cites COVERAGE.md instead of the deleted
     `dev/HitsIters` harness.

Helpers are checked the same way, except that `private` may widen to
`private[queries]` (or narrow back) when a helper is now used from
another family module, and the helpers that moved to the `QueryDef`
companion are compared against that copy. Exit 1 on any difference.
"""
import re
import subprocess
import sys
from pathlib import Path

QDIR = 'src/main/scala/graft/queries'
RENAMES = {
    'Round88Queries': {'weekly': 'weeklyOrderDays', 'weeklySql': 'weeklyOrderDaysSql'},
    'Round92Queries': {'weekly': 'completeWeeks', 'weeklySql': 'completeWeeksSql'},
    'Round98Queries': {'weekly': 'weeklyLineitem', 'weeklySql': 'weeklyLineitemSql'},
    'Round35Queries': {'toks': 'sourceTerms'},
}
SHARED = {'dec', 'dec38', 'Q', 'Q2', 'cents', 'd4ToDouble', 'spread'}
MEMBER = re.compile(r'^  (?:private(?:\[\w+\])? |final |lazy |implicit )*(val|def|lazy val)\s+(\w+)')
Q532_OLD = ('Some(Round4Queries.all.find(_.name == "q109_curation_pipeline")\n'
            '      .flatMap(_.oracle)\n      .getOrElse(')
Q532_NEW = 'Some(q109.oracle\n      .getOrElse('
Q529_OLD = ('      // (dev/HitsIters: iters-4 ≡ iters-6 part order at gate SF), the\n'
            '      // oracle recursion below runs the matching 4 rounds, and')
Q529_NEW = ('      // (measured: iters-4 ≡ iters-6 part order at gate SF; COVERAGE.md,\n'
            '      // "HITS gates 38% cheaper"), the oracle recursion below runs the\n'
            '      // matching 4 rounds, and')


def members(text):
    """(name, text) of each object-level member, with its leading
    comment block; multi-line string bodies are skipped over."""
    lines = text.split('\n')
    starts, in_str = [], False
    for i, l in enumerate(lines):
        if not in_str and MEMBER.match(l):
            starts.append(i)
        if l.count('"""') % 2:
            in_str = not in_str
    out = []
    for k, s in enumerate(starts):
        j = s
        floor = starts[k - 1] + 1 if k else 0
        while j > floor and (lines[j - 1].strip().startswith(('//', '/*', '*'))
                             or lines[j - 1].strip().endswith('*/')):
            j -= 1
        end = starts[k + 1] if k + 1 < len(starts) else len(lines)
        body = lines[j:end]
        while body and (body[-1].strip() in ('', '}') or
                        body[-1].strip().startswith(('//', '/*', '*'))):
            if body[-1].strip() == '}' and k + 1 < len(starts):
                break
            body.pop()
        out.append((MEMBER.match(lines[s]).group(2), '\n'.join(body)))
    return out


def outside_strings(text, fn):
    """Apply fn to the code (and comment) stretches of text, leaving
    string literals alone; interpolation splices count as code."""
    out, i, n = [], 0, len(text)
    code = []
    while i < n:
        if text.startswith('//', i):
            j = text.find('\n', i)
            j = n if j < 0 else j
            code.append(text[i:j]); i = j; continue
        if text[i] != '"':
            code.append(text[i]); i += 1; continue
        out.append(fn(''.join(code))); code = []
        interp = i > 0 and text[i - 1] in 'sf'
        q = '"""' if text.startswith('"""', i) else '"'
        j = i + len(q)
        lit = [q]
        while True:
            if q == '"""' and text.startswith('"""', j):
                k = j + 3
                while k < n and text[k] == '"':
                    k += 1
                lit.append(text[j:k]); j = k; break
            if q == '"' and text[j] == '\\':
                lit.append(text[j:j + 2]); j += 2; continue
            if q == '"' and text[j] == '"':
                lit.append('"'); j += 1; break
            if interp and text.startswith('${', j):
                k, depth = j + 1, 0
                while True:
                    depth += {'{': 1, '}': -1}.get(text[k], 0)
                    if depth == 0:
                        break
                    k += 1
                lit.append('${' + fn(text[j + 2:k]) + '}'); j = k + 1; continue
            m = re.match(r'\$([A-Za-z_]\w*)', text[j:]) if interp and text[j] == '$' \
                and not text.startswith('$$', j) else None
            if m:
                lit.append('$' + fn(m.group(1))); j += len(m.group(0)); continue
            if text.startswith('$$', j):
                lit.append('$$'); j += 2; continue
            lit.append(text[j]); j += 1
        out.append(''.join(lit))
        i = j
    out.append(fn(''.join(code)))
    return ''.join(out)


QUALIFIER = re.compile(r'\b(Round\d+Queries|RelationalQueries|TextQueries|ExtraQueries|'
                       r'NsGateQueries|CleanerGateQuery|[A-Z]\w*Gates)\.(?=[a-z]\w*)')


def normalize(text):
    return outside_strings(text, lambda c: QUALIFIER.sub('', c))


def old_edits(mod, text):
    text = text.replace(Q532_OLD, Q532_NEW).replace(Q529_OLD, Q529_NEW)

    def f(code):
        code = re.sub(r'(?<![\w.])t\(s, dir, ', 'Tables.load(s, dir, ', code)
        for a, b in RENAMES.get(mod, {}).items():
            code = re.sub(r'(?<![\w.])' + a + r'\b', b, code)
        return code
    return normalize(outside_strings(text, f))


def decl(text):
    """The member without its leading comment block."""
    lines = text.split('\n')
    i = next(k for k, l in enumerate(lines) if MEMBER.match(l))
    return '\n'.join(lines[i:])


def rhs(text):
    """A one-definition member's right-hand side, comments and layout
    dropped."""
    code = outside_strings(decl(text), lambda c: re.sub(r'//.*', '', c))
    return re.sub(r'\s+', ' ', re.split(r'\s=\s', code, 1)[1]).strip()


def visibility(text):
    return re.sub(r'(?m)^  private(\[queries\])? ', '  private ', text)


def main():
    rev = sys.argv[1]
    names = subprocess.run(['git', 'ls-tree', '--name-only', rev, QDIR + '/'],
                           capture_output=True, text=True, check=True).stdout.split()
    old_mods = [Path(p).stem for p in names
                if re.search(r'/(Round\d+Queries|RelationalQueries|TextQueries|'
                             r'ExtraQueries|NsGateQueries|CleanerGateQuery)\.scala$', p)]
    new = {}
    for f in sorted(Path(QDIR).glob('*Gates.scala')):
        for name, body in members(f.read_text()):
            new.setdefault(name, []).append((f.stem, body))
    for name, body in members(Path(QDIR, 'QueryDef.scala').read_text()):
        new.setdefault(name, []).append(('QueryDef', body))
    bad, gates, helpers = 0, 0, 0
    for mod in old_mods:
        src = subprocess.run(['git', 'show', '%s:%s/%s.scala' % (rev, QDIR, mod)],
                             capture_output=True, text=True, check=True).stdout
        for name, body in members(src):
            if name in ('all', 't'):
                continue
            is_gate = re.search(r'^  \S.*= QueryDef\(', body, re.M) is not None
            want = old_edits(mod, body)
            cands = [b for _, b in new.get(RENAMES.get(mod, {}).get(name, name), [])]
            if is_gate:
                gates += 1
                ok = any(normalize(c) == want for c in cands)
            elif name in SHARED:
                helpers += 1
                ok = any(rhs(c) == rhs(want) for c in cands)
            else:
                # identical helpers from several modules are kept once,
                # with the first one's doc comment
                helpers += 1
                ok = any(visibility(decl(normalize(c))) == visibility(decl(want))
                         for c in cands)
            if not ok:
                bad += 1
                print('DIFFERS: %s.%s (%s)' % (mod, name, 'gate' if is_gate else 'helper'))
    print('%d gates, %d helpers checked against %s; %d differ' % (gates, helpers, rev, bad))
    sys.exit(1 if bad else 0)


if __name__ == '__main__':
    main()
