"""Generate the JSON number-grammar differential fixture: number-like
strings with Python's `json.loads` verdict for each, so the Scala parser's
grammar can be checked against the reference without Python at test time.

Each output line is `<alone>\t<doc>\t<text>`:
  alone  1 if json.loads(text) succeeds, else 0;
  doc    1 if json.loads(DOC % text) succeeds, else 0 -- the text as the
         `page` of a tables document, which is what tablevalidate reads;
  text   the string itself (no tabs or newlines by construction).

Strings containing NaN/Infinity are not generated: Python accepts those
literals and the Scala parser does not (a known, separate divergence).

Run from anywhere: python3 tools/gen_json_number_verdicts.py
"""
import itertools
import json
import os
import random

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), '..',
                   'src', 'test', 'resources', 'graft', 'golden', 'json_numbers.tsv')

DOC = '{"tables": [{"rows": [], "page": %s}], "citation": null}'

# ASCII number alphabet plus non-ASCII decimal digits (Arabic-Indic,
# Extended Arabic-Indic, full-width, Devanagari) and a space
ASCII = '0123456789.eE+-'
EXOTIC = ['١', '۵', '５', '१']
ALPHABET = list(ASCII) + EXOTIC + [' ']

HAND = [
    '+4', '007', '1-2', '١', '1.', '.5', '-', '[1,+2]', '0', '-0', '1',
    '10', '-10', '0.5', '-0.5', '1e5', '1E5', '1e+5', '1e-5', '1.5e10',
    '-0.0e-0', '1e999', '123456789012345678901234567890', '00', '-01', '0x1',
    '1e', '1e+', '1.e5', '1..2', '1ee2', '--1', '-+1', '1+', '1.5.', ' 1 ',
    '1 2', '[1, 2]', '[01]', '[1.]', '[-]', '[.5]', '[1e5, -0]', '1５',
    '５', '-١', '1.١', '1e١', '', ' ',
]


def verdict(text):
    try:
        json.loads(text)
        return 1
    except ValueError:
        return 0


def near_misses(rng, n):
    """Mutations (insert, delete, replace one char) of valid numbers."""
    valid = ['0', '7', '-3', '12', '0.25', '-10.5', '6e7', '1E-3', '9.75e+2', '-0.0']
    out = []
    for _ in range(n):
        s = list(rng.choice(valid))
        op = rng.randrange(3)
        k = rng.randrange(len(s) + (1 if op == 0 else 0))
        c = rng.choice(ALPHABET)
        if op == 0:
            s.insert(k, c)
        elif op == 1 and len(s) > 1:
            del s[k]
        else:
            s[min(k, len(s) - 1)] = c
        out.append(''.join(s))
    return out


def main():
    rng = random.Random(20260101)
    cases = list(HAND)
    short = '01.eE+-'
    for n in range(1, 4):
        cases += [''.join(p) for p in itertools.product(short, repeat=n)]
    cases += [''.join(rng.choice(ALPHABET) for _ in range(rng.randint(1, 10)))
              for _ in range(1200)]
    cases += near_misses(rng, 800)
    cases += ['[' + ','.join(rng.choice(cases[:400]) for _ in range(rng.randint(1, 3))) + ']'
              for _ in range(300)]
    seen = set()
    lines = []
    for text in cases:
        if text in seen:
            continue
        seen.add(text)
        assert '\t' not in text and '\n' not in text
        lines.append(f'{verdict(text)}\t{verdict(DOC % text)}\t{text}\n')
    with open(OUT, 'w', encoding='utf-8') as f:
        f.writelines(lines)
    accepted = sum(line[0] == '1' for line in lines)
    print(f'{len(lines)} strings ({accepted} accepted) written to {os.path.normpath(OUT)}')


if __name__ == '__main__':
    main()
