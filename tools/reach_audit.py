#!/usr/bin/env python3
"""List main members that nothing outside src/test reaches.

Usage: python3 tools/reach_audit.py [repoRoot]

A member is a public or private[graft] `def`/`val`/`object`/`class` at
top level or directly inside an object/class in src/main. Its refs are
word matches of its name, comments stripped, in src/main, perfbench/src
and tools, outside its own definition line. A match in another file
counts only if that file also names the member's enclosing object
(`Obj.name` or an import), so shared names such as `decode` do not hide
an unreached member. Objects with a `main` method are entry points and
are skipped. Each printed line is `file:line kind name test_refs=N`;
the README's keep list names the members that stay on purpose.
"""
import os
import re
import sys

root = sys.argv[1] if len(sys.argv) > 1 else '.'


def sources(dirs, exts):
    out = {}
    for d in dirs:
        for dp, _, fs in os.walk(os.path.join(root, d)):
            for f in fs:
                if f.endswith(exts):
                    p = os.path.join(dp, f)
                    src = open(p, encoding='utf-8').read()
                    src = re.sub(r'/\*.*?\*/',
                                 lambda m: '\n' * m.group(0).count('\n'),
                                 src, flags=re.S)
                    out[p] = re.sub(r'//[^\n]*', '', src)
    return out


main = sources(['src/main'], ('.scala',))
reach = dict(main)
reach.update(sources(['perfbench/src', 'tools'], ('.scala', '.sh', '.py')))
reach.pop(os.path.join(root, 'tools', 'reach_audit.py'), None)
test = sources(['src/test'], ('.scala',))

member = re.compile(
    r'^([ \t]*)((?:final |implicit |lazy |case |private\[graft\] )*)'
    r'(def|val|object|class|trait) +([A-Za-z_][A-Za-z0-9_]*)', re.M)
owner = re.compile(r'^([ \t]*)(?:private\[\w+\] |final |case )*'
                   r'(?:object|class|trait) +([A-Za-z_][A-Za-z0-9_]*)', re.M)
skip = {'apply', 'unapply', 'main', 'toString', 'equals', 'hashCode'}

for f, src in sorted(main.items()):
    if re.search(r'\bdef main\(', src):
        entry = {m.group(2) for m in owner.finditer(src)}
    else:
        entry = set()
    lines = src.split('\n')
    for m in member.finditer(src):
        indent, mods, kind, name = m.groups()
        if len(indent) > 2 or name in skip or name in entry:
            continue
        line = src.count('\n', 0, m.start())
        encl = [o.group(2) for o in owner.finditer(src, 0, m.start())
                if len(o.group(1)) < len(indent)]
        scope = encl[-1] if encl else name
        word = re.compile(r'\b' + re.escape(name) + r'\b')
        scoped = re.compile(r'\b' + re.escape(scope) + r'\b')
        refs = sum(len(word.findall(l)) for i, l in enumerate(lines) if i != line)
        for g, s in reach.items():
            if g != f and (scope == name or scoped.search(s)):
                refs += len(word.findall(s))
        if refs == 0:
            n_test = sum(len(word.findall(s)) for s in test.values())
            print('%s:%d %s %s test_refs=%d' % (
                os.path.relpath(f, root), line + 1, kind, name, n_test))
